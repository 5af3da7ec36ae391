package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Numerically-portable statistics over integer-valued columns.
  *
  * Spark's built-in `stddev`/`var_samp`/`corr` stream FLOATING partial
  * aggregates whose merge order follows the physical plan — the same
  * query can legally return different last bits run to run (and always
  * differs engine to engine), which breaks retry determinism and any
  * hash-based result audit at 100 TB. This object aggregates EXACT
  * integer moments instead (integer sums are order-independent) and
  * spends floating point only in a fixed FINAL expression tree of single
  * IEEE operations — divisions, multiplications, and correctly-rounded
  * `sqrt` — so results are bit-identical across runs, plans, partition
  * counts, and engines (the DuckDB oracle reproduces them exactly).
  *
  * Bounds: moments are BIGINT; with |x| ≤ B over n rows, `n·Σx²` and
  * `(Σx)²` must stay under 2⁶³ — e.g. B = 50 allows n up to ~1.9e9 rows
  * per group. Beyond that, widen the moment sums to DECIMAL(38,0)
  * (still exact and order-independent; Spark and DuckDB then disagree
  * only on the final double cast's input type, not its value).
  */
object Stats {

  /** Binary-search step-function lookup over a SORTED ascending
    * (t, value) struct grid — the JVM replacement (r16, guide §4) for
    * the interpreted `aggregate()` fold every IPCW/Nelson–Aalen lookup
    * used: the fold evaluates a Catalyst when-chain per grid element
    * per ROW (O(n·|grid|) interpreted at 1M-subject scale), while this
    * udf is O(log |grid|) of plain JVM compares. Semantics are the
    * fold's exactly: on an ascending grid the predicate (t < x, or
    * t ≤ x) holds on a prefix, and the fold's last overwrite is the
    * last prefix element — which the binary search returns; no prefix
    * element → `seed` (the fold's initial acc); null grid → null;
    * null x → seed (every comparison null ⇒ acc survives).
    * Instances are MEMOIZED vals: ScalaUDF canonicalizes by function
    * reference, so fresh closures would break plan-cache/exchange
    * reuse (the Dedup.shinglePosting lesson). */
  private def mkStepLookupUdf(strict: Boolean, seed: Double)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((grid: Seq[org.apache.spark.sql.Row], x: java.lang.Double) =>
      if (grid == null) null
      else if (x == null) java.lang.Double.valueOf(seed)
      else {
        val t = x.doubleValue
        var lo = 0
        var hi = grid.size - 1
        var ans = seed
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val gt = grid(mid).getDouble(0)
          if (if (strict) gt < t else gt <= t) {
            ans = grid(mid).getDouble(1); lo = mid + 1
          } else hi = mid - 1
        }
        java.lang.Double.valueOf(ans)
      })

  /** Ĝ(x⁻): last grid value with t < x, else 1.0. */
  private[operators] val stepLookupLt1 = mkStepLookupUdf(strict = true, 1.0)
  /** Ĝ(x): last grid value with t ≤ x, else 1.0. */
  private[operators] val stepLookupLeq1 = mkStepLookupUdf(strict = false, 1.0)
  /** Cumulative-hazard H(x): last grid value with t ≤ x, else 0.0. */
  private[operators] val stepLookupLeq0 = mkStepLookupUdf(strict = false, 0.0)

  /** One-pass column profile — the ANALYZE-TABLE face of the engine: for
    * each named column, null count, EXACT distinct count, and min/max
    * (rendered as strings so heterogeneous column types share one output
    * schema). One aggregation job over one scan; the single stats row
    * unpivots to long form through `stack` (a Generate, no shuffle).
    *
    * Exact `countDistinct` per column expands the aggregate (one Expand
    * branch per column) — the right trade at audit time; for routine
    * 100 TB profiling swap in [[Sketches.distinctSketch]] per column and
    * keep this as the exact-verification tail. Min/max stringification
    * happens AFTER the typed aggregation, so numeric columns compare
    * numerically, not lexicographically. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggExprs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val row = df.agg(count(lit(1)).as("__n"), aggExprs: _*)
    val stackArgs = cols
      .map(c => s"'$c', `__nn_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`")
      .mkString(", ")
    row
      .select(col("__n").as("n_rows"),
        expr(s"stack(${cols.size}, $stackArgs) " +
          "as (column, n_nulls, n_distinct, min_value, max_value)"))
      .select("column", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value")
  }

  /** Per-group n / mean / sample-variance / sample-stddev of `x`, plus
    * Pearson correlation of `(x, y)`, all from exact integer moments:
    *
    *   var_samp = (n·Σx² − (Σx)²) / (n·(n−1))        — exact ÷ exact
    *   corr     = (n·Σxy − Σx·Σy) / (√a · √b)         — a, b exact ints
    *
    * `x` and `y` must be integer-valued (they are cast to BIGINT before
    * any arithmetic; a fractional input would be silently truncated —
    * callers scale fixed-point inputs up first, e.g. cents not dollars).
    * Rows where either input is null are dropped BEFORE counting
    * (pairwise deletion — matching `corr`'s convention), so `n` always
    * agrees with what the sums saw; a group of only-null rows therefore
    * disappears from the output entirely.
    * Output: group cols + (n, sum_x, mean_x, var_x, stddev_x, corr_xy).
    * Single-row groups yield null variance/corr (division by zero →
    * null in both engines via explicit guards). */
  def exactMoments(df: DataFrame, groupCols: Seq[Column],
      x: Column, y: Column): DataFrame =
    deriveFromMoments(momentPartials(df, groupCols, x, y))

  /** The PARTIAL moment vector per group — (groups..., n, sx, sy, sxx,
    * syy, sxy), all exact BIGINTs. This row is the at-rest summary-table
    * artifact for INCREMENTAL rollup maintenance at corpus scale:
    * aggregate each arriving partition once, store its partials, and
    * answer any later mean/stddev/corr question by
    * [[mergeMomentPartials]] + [[momentsFromPartials]] — history is
    * never rescanned, and because component-wise BIGINT addition is
    * associative/commutative/exact, the merged rollup equals a
    * full recompute BIT FOR BIT under any batch slicing (the registered
    * a_incremental_moments query proves it against an oracle that only
    * ever sees the whole). */
  def momentPartials(df: DataFrame, groupCols: Seq[Column],
      x: Column, y: Column): DataFrame = {
    val xb = x.cast("bigint")
    val yb = y.cast("bigint")
    // pairwise deletion up front: count(*) must agree with what the sums
    // saw, or a null x row would enter n while Σx skipped it and every
    // derived moment would be silently wrong
    val complete = df.filter(xb.isNotNull && yb.isNotNull)
    complete.groupBy(groupCols: _*).agg(
      count(lit(1)).as("n"),
      sum(xb).as("sx"), sum(yb).as("sy"),
      sum(xb * xb).as("sxx"), sum(yb * yb).as("syy"),
      sum(xb * yb).as("sxy"))
  }

  /** Merge partial-moment tables built by [[momentPartials]] with the
    * same grouping: component-wise addition per group. A group absent
    * from one side contributes its other side's partials unchanged. */
  def mergeMomentPartials(partials: Seq[DataFrame],
      groupCols: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy"))

  /** Finalize a partials table into the [[exactMoments]] output schema —
    * the same fixed float tail, so incremental and one-shot answers are
    * bit-identical. */
  def momentsFromPartials(partials: DataFrame): DataFrame =
    deriveFromMoments(partials)

  /** The fixed float tail shared by [[exactMoments]] and
    * [[momentsAggregator]]: input must carry BIGINT columns
    * (n, sx, sy, sxx, syy, sxy); emits the documented output schema.
    * Keeping this ONE expression tree is what makes the Column and
    * typed-Aggregator faces bit-identical to each other and to the SQL
    * oracle. */
  private[operators] def deriveFromMoments(agg: DataFrame): DataFrame = {
    val n = col("n")
    val varNumX = n * col("sxx") - col("sx") * col("sx") // exact BIGINT
    val varNumY = n * col("syy") - col("sy") * col("sy")
    val corrNum = n * col("sxy") - col("sx") * col("sy")
    val varX = when(n > 1,
      varNumX.cast("double") / (n * (n - 1)).cast("double"))
    val corr = when(n > 1 && varNumX > 0 && varNumY > 0,
      corrNum.cast("double") /
        (sqrt(varNumX.cast("double")) * sqrt(varNumY.cast("double"))))
    agg
      .withColumn("mean_x", col("sx").cast("double") / n)
      .withColumn("var_x", varX)
      .withColumn("stddev_x", sqrt(varX))
      .withColumn("corr_xy", corr)
      .drop("sxx", "syy", "sxy", "sy")
      .withColumnRenamed("sx", "sum_x")
  }

  /** Per-group ordinary-least-squares fit `y ≈ slope·x + intercept`
    * from the same exact integer moments as [[exactMoments]] — the
    * per-group trend primitive (rate of change per segment, drift per
    * source) that stays ONE aggregation pass at any scale:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *   r²        = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
    *
    * Numerators and denominators are exact BIGINTs (same integer-input
    * contract and pairwise null deletion as [[exactMoments]]); each
    * emitted value is a fixed two-operand float expression over their
    * casts, so results are bit-identical across engines, partitionings,
    * and reruns. The r² square is taken AFTER the casts because the
    * BIGINT square could overflow where the double cannot. Degenerate
    * groups (constant x, or constant y for r²) yield nulls via explicit
    * zero-denominator guards. Output: groups... + (n, slope, intercept,
    * r2). */
  def groupOls(df: DataFrame, groupCols: Seq[Column],
      x: Column, y: Column): DataFrame =
    olsFromPartials(momentPartials(df, groupCols, x, y))

  /** Finalize an OLS fit from a (possibly [[mergeMomentPartials]]-merged)
    * moment-partials table — the incremental face: store per-batch
    * partials once, answer trend questions later without rescanning
    * history, bit-identical to a one-shot [[groupOls]] because the
    * integer merge is exact and the float tail is fixed. */
  def olsFromPartials(p: DataFrame): DataFrame = {
    val n = col("n")
    val sNum = n * col("sxy") - col("sx") * col("sy") // exact BIGINT
    val sDenX = n * col("sxx") - col("sx") * col("sx")
    val sDenY = n * col("syy") - col("sy") * col("sy")
    val iNum = col("sy") * col("sxx") - col("sx") * col("sxy")
    p.withColumn("slope",
        when(sDenX =!= 0, sNum.cast("double") / sDenX.cast("double")))
      .withColumn("intercept",
        when(sDenX =!= 0, iNum.cast("double") / sDenX.cast("double")))
      .withColumn("r2",
        when(sDenX =!= 0 && sDenY =!= 0,
          (sNum.cast("double") * sNum.cast("double")) /
            (sDenX.cast("double") * sDenY.cast("double"))))
      .drop("sx", "sy", "sxx", "syy", "sxy")
  }

  /** Per-group winsorization — the standard outlier treatment before
    * training-statistics or quality scoring: clip `c` into its own
    * group's `[p(lo), p(hi)]` band. One exact-percentile aggregation
    * over the groups (partial buffers merge; values sort within groups
    * only, never globally), then the tiny bounds table joins back —
    * broadcast by default since group counts are small (languages,
    * sources); pass `broadcastBounds = false` when grouping by a
    * high-cardinality key so the join can shuffle both sides instead of
    * shipping an oversized build side to every task. The clip itself is
    * a codegen `least/greatest` over the scan — no second pass over the
    * data beyond the join. Output: the input rows + `outCol` (DOUBLE,
    * the clipped value; null inputs stay null and do not enter the
    * percentile). */
  def winsorize(df: DataFrame, groupCols: Seq[String], c: Column,
      lo: Double, hi: Double, outCol: String,
      broadcastBounds: Boolean = true): DataFrame = {
    require(0.0 <= lo && lo <= hi && hi <= 1.0,
      s"winsorize needs 0 <= lo <= hi <= 1, got [$lo, $hi]")
    val bounds = df.filter(c.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(percentile(c, lit(lo)).as("__lo"),
        percentile(c, lit(hi)).as("__hi"))
    val b = if (broadcastBounds) broadcast(bounds) else bounds
    // least/greatest IGNORE nulls (they return the extreme of the
    // non-null operands), so an unguarded clip would turn a null input
    // into the lower bound — guard explicitly to keep nulls null
    df.join(b, groupCols, "left")
      .withColumn(outCol, when(c.isNotNull,
        least(greatest(c.cast("double"), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Per-group Gini coefficient — the concentration/inequality metric
    * (how skewed is data volume across sources, token mass across
    * documents): with values sorted ascending within each group,
    *
    *   G = Σᵢ (2i − n − 1)·xᵢ / (n · Σ xᵢ)     (i = 1..n)
    *
    * `x` must be integer-valued and non-negative (cast to BIGINT like
    * [[exactMoments]]; negatives make G meaningless and are rejected by
    * a runtime guard on the aggregated min). The numerator and
    * denominator are exact BIGINTs — the within-group rank `i` comes
    * from a PARTITIONED window (parallel across groups; the sort is the
    * inherent cost of the statistic) — so the single closing division is
    * bit-portable. All-zero groups yield G = null (zero denominator); a
    * single positive-valued row yields G = 0.0 (no concentration is
    * measurable in one observation). Output: groups... + (n, sum_x,
    * gini). */
  def gini(df: DataFrame, groupCols: Seq[String], x: Column): DataFrame = {
    val xb = x.cast("bigint")
    val withRank = df.filter(xb.isNotNull)
      .select(groupCols.map(col) :+ xb.as("__x"): _*)
      .withColumn("__i", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)
          .orderBy(col("__x").asc)).cast("bigint"))
    withRank.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("sum_x"),
        sum(col("__i") * col("__x")).as("__six"),
        min(col("__x")).as("__minx"))
      .select(groupCols.map(col) ++ Seq(col("n"), col("sum_x"),
        when(col("__minx") < 0, raise_error(
          lit("gini requires non-negative values")).cast("double"))
          .when(col("n") * col("sum_x") =!= 0,
            (lit(2L) * col("__six") - (col("n") + 1L) * col("sum_x"))
              .cast("double") / (col("n") * col("sum_x")).cast("double"))
          .as("gini")): _*)
  }

  /** Per-group Welch's t statistic — the A/B comparison primitive (did
    * the new filter change mean document quality per language? does
    * cohort A's metric differ from B's?): for the two cohorts selected
    * by the boolean `cohort` column,
    *
    *   t = (x̄₁ − x̄₂) / √(s₁²/n₁ + s₂²/n₂)
    *
    * computed from exact BIGINT conditional moments in ONE aggregation
    * pass (no per-cohort scans, no join) with the same integer-input
    * contract as [[exactMoments]]. The float tail is a fixed operand
    * order over exact-integer casts, so t hashes exactly across engines.
    * Rows with null x or null cohort are dropped first. Groups where
    * either cohort has < 2 rows, or both sample variances are zero,
    * yield null t; an empty cohort also yields a null mean (not the
    * 0/0 NaN the raw division would emit). Output: groups... + (n1,
    * n2, mean1, mean2, t). */
  def welchT(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame =
    welchFromPartials(welchPartials(df, groupCols, x, cohort))

  /** The PARTIAL per-cohort conditional moments behind [[welchT]] —
    * (groups..., n1, sx1, sxx1, n2, sx2, sxx2), all exact BIGINTs, in
    * ONE aggregation pass. Like [[momentPartials]] this row is the
    * at-rest incremental artifact: aggregate each arriving batch once,
    * [[mergeWelchPartials]] the stored rows, and [[welchFromPartials]]
    * answers the test later without rescanning history — bit-identical
    * to a one-shot [[welchT]] under any batch slicing, because BIGINT
    * addition is exact/associative and the float tail is fixed. */
  def welchPartials(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame = {
    val xb = x.cast("bigint")
    val complete = df.filter(xb.isNotNull && cohort.isNotNull)
    def side(c: Column, tag: String) = Seq(
      sum(when(c, 1L).otherwise(0L)).as(s"n$tag"),
      sum(when(c, xb).otherwise(0L)).as(s"sx$tag"),
      sum(when(c, xb * xb).otherwise(0L)).as(s"sxx$tag"))
    val sides = side(cohort, "1") ++ side(!cohort, "2")
    complete.groupBy(groupCols: _*).agg(sides.head, sides.tail: _*)
  }

  /** Merge [[welchPartials]] tables with the same grouping: component-
    * wise BIGINT addition per group (a group absent from one batch
    * contributes the other's partials unchanged). */
  def mergeWelchPartials(partials: Seq[DataFrame],
      groupCols: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n1").as("n1"), sum("sx1").as("sx1"), sum("sxx1").as("sxx1"),
        sum("n2").as("n2"), sum("sx2").as("sx2"), sum("sxx2").as("sxx2"))

  /** Finalize a (possibly merged) [[welchPartials]] table into the
    * [[welchT]] output schema — the ONE fixed float tail both faces
    * share, which is what makes incremental and one-shot answers hash
    * identically. */
  def welchFromPartials(agg: DataFrame): DataFrame = {
    def mean(t: String) = col(s"sx$t").cast("double") / col(s"n$t")
    // s²/n = (n·sxx − sx²) / (n·(n−1)) / n — numerator exact BIGINT
    def varOverN(t: String) = {
      val num = col(s"n$t") * col(s"sxx$t") - col(s"sx$t") * col(s"sx$t")
      num.cast("double") /
        (col(s"n$t") * (col(s"n$t") - 1L)).cast("double") / col(s"n$t")
    }
    agg
      .withColumn("mean1", when(col("n1") > 0, mean("1")))
      .withColumn("mean2", when(col("n2") > 0, mean("2")))
      .withColumn("t",
        when(col("n1") > 1 && col("n2") > 1 &&
            (varOverN("1") + varOverN("2")) > 0.0,
          (mean("1") - mean("2")) / sqrt(varOverN("1") + varOverN("2"))))
      .drop("sx1", "sxx1", "sx2", "sxx2")
  }

  /** Theil–Sen robust slope per group — the median of all pairwise
    * slopes `(y_j − y_i)/(x_j − x_i)`: the standard outlier-robust
    * complement to [[groupOls]] (one wild week cannot drag the trend,
    * breakdown point ~29%). Pairwise medians are O(n²) per group and
    * order statistics don't merge, so the contract is the grouped
    * short-series one ([[graft.operators.TimeSeries.ewma]]'s): the
    * group's sorted (x, y) array folds IN-ROW — pair generation,
    * null-x-gap filtering, sort, and the explicit odd/even median are
    * all deterministic array expressions, making the result layout-
    * exact and engine-portable (the oracle replays the same pair order
    * and the same `(a+b)/2` midpoint — NOT `quantile_cont`, whose
    * `a + (b−a)·f` interpolation differs in float). `maxLen` fail-fasts
    * groups whose n² pair array would not fit a row. Pairs with equal
    * x contribute nothing (vertical slope undefined). Output:
    * groups... + (n, n_pairs, slope); slope null when no valid pair. */
  def theilSen(df: DataFrame, groupCols: Seq[Column], x: Column, y: Column,
      maxLen: Int = 1000): DataFrame = {
    val arr = sort_array(collect_list(struct(x.cast("double").as("x"),
      y.cast("double").as("y"))))
    val slopes = sort_array(filter(flatten(
      transform(col("__a"), (p, i) =>
        transform(slice(col("__a"), i + lit(2), size(col("__a"))),
          q => when(q.getField("x") =!= p.getField("x"),
            (q.getField("y") - p.getField("y")) /
              (q.getField("x") - p.getField("x")))))),
      s => s.isNotNull))
    df.filter(x.isNotNull && y.isNotNull)
      .groupBy(groupCols: _*)
      .agg(arr.as("__a"))
      .filter(assert_true(size(col("__a")) <= maxLen,
        lit(s"theilSen: a group exceeds maxLen=$maxLen rows — its n^2 " +
          "pair array would dominate the row; sample or window first"))
        .isNull)
      .withColumn("n", size(col("__a")).cast("bigint"))
      .withColumn("__s", slopes)
      .withColumn("n_pairs", size(col("__s")).cast("bigint"))
      .withColumn("slope", when(col("n_pairs") > 0,
        when(pmod(col("n_pairs"), lit(2)) === 1,
          element_at(col("__s"), ((col("n_pairs") + 1) / 2).cast("int")))
          .otherwise((element_at(col("__s"),
              (col("n_pairs") / 2).cast("int")) +
            element_at(col("__s"),
              (col("n_pairs") / 2 + 1).cast("int"))) / 2)))
      .drop("__a", "__s")
  }

  /** Mann–Kendall trend test per group — the SIGNIFICANCE half of the
    * nonparametric trend pair ([[theilSen]] estimates the slope; this
    * says whether a monotone trend exists at all, outlier-robustly and
    * with no linearity assumption):
    *
    *   S = Σ_{i<j in time order} sgn(v_j − v_i)            (exact int)
    *   Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18
    *   z = (S ∓ 1) / √Var(S)   (continuity-corrected, 0 when S = 0)
    *
    * Portability: S sums ±1 comparison indicators (no float op until
    * the final divisions), the tie term comes from an order-free exact
    * per-(group, value) count aggregation, and Var/z/tau are fixed
    * float expressions over BIGINT casts — IEEE √ is correctly rounded,
    * so every output column hashes cross-engine. tau here is Kendall's
    * tau-a = 2S/(n(n−1)) (pairs tied in v count against the trend, the
    * MK convention).
    *
    * Same scale shape as [[theilSen]]: grouped SHORT series (the n²
    * pair array is in-row), `maxLen` fail-fast names the limit. The
    * BIGINT bound n(n−1)(2n+5) < 2⁶³ holds for any n ≤ maxLen ≤ ~10⁶.
    * `t` must be UNIQUE within a group (the [[graft.operators
    * .TimeSeries.changepoints]] contract): S signs pairs by time
    * order, so duplicate timestamps would make it order-ambiguous —
    * the (t, v) sort pins Spark's answer but an engine sorting by t
    * alone could legitimately differ.
    *
    * Output: groups... + (n, s, tau, z); z is null for n < 2 or when
    * every pair is tied (Var = 0). */
  def mannKendall(df: DataFrame, groupCols: Seq[Column], t: Column,
      v: Column, maxLen: Int = 1000): DataFrame = {
    val names = groupCols.map(_.toString)
    val complete = df.filter(t.isNotNull && v.isNotNull)
    val sRow = complete
      .groupBy(groupCols: _*)
      .agg(sort_array(collect_list(struct(t.as("t"),
        v.cast("double").as("v")))).as("__a"))
      .filter(assert_true(size(col("__a")) <= maxLen,
        lit(s"mannKendall: a group exceeds maxLen=$maxLen rows — its " +
          "n^2 pair array would dominate the row; sample or window " +
          "first")).isNull)
      .withColumn("n", size(col("__a")).cast("bigint"))
      .withColumn("s", aggregate(flatten(
        transform(col("__a"), (p, i) =>
          transform(slice(col("__a"), i + lit(2), size(col("__a"))),
            q => when(q.getField("v") > p.getField("v"), 1L)
              .when(q.getField("v") < p.getField("v"), -1L)
              .otherwise(0L)))),
        lit(0L), (acc, x) => acc + x))
      .drop("__a")
    val ties = complete
      .groupBy(groupCols :+ v.cast("double").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(names.map(col): _*)
      .agg(sum(col("__c") * (col("__c") - 1L) *
        (lit(2L) * col("__c") + 5L)).as("__tie"))
    val varS = (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
      col("__tie")).cast("double") / lit(18.0)
    sRow.join(ties, names)
      .withColumn("tau", when(col("n") >= 2,
        lit(2.0) * col("s").cast("double") /
          (col("n") * (col("n") - 1L)).cast("double")))
      .withColumn("z", when(col("n") >= 2 && varS > 0.0,
        when(col("s") > 0, (col("s") - 1L).cast("double") / sqrt(varS))
          .when(col("s") < 0, (col("s") + 1L).cast("double") / sqrt(varS))
          .otherwise(lit(0.0))))
      .drop("__tie")
  }

  /** Distributed logistic-regression training — the TRAINABLE quality
    * classifier the curation block's heuristics feed (fastText-style
    * keep/drop filters, CCNet's "looks like the reference corpus"
    * signal as a supervised model): fit σ(w·x) by Newton–Raphson, each
    * iteration ONE narrow aggregation over the corpus.
    *
    * Portability design (the c_growth_advantage micro-logit move,
    * generalized): per-row gradient and Hessian contributions are
    * QUANTIZED — floor(contrib · quantScale) as BIGINT — so the
    * per-iteration sums are exact integers, immune to float-sum
    * plan/layout order; the Newton update then runs on the driver over
    * the d+1 ≤ 9 dequantized sums in a FIXED expression order (Cramer
    * cofactors for d ≤ 2, which is what the registered oracle face
    * replays; deterministic Gaussian elimination beyond). Result: the
    * fitted weights are bit-reproducible across engines and layouts,
    * up to the documented exp last-ulp-at-a-floor-boundary hazard all
    * the quantized transcendental faces share.
    *
    * Scale shape: `iters` jobs, each one aggregation emitting
    * (d+1)(d+4)/2 BIGINTs — no per-row state, no shuffle of features,
    * model never leaves the driver (d ≤ 8). Overflow is guarded
    * POST-HOC but soundly: count and max|x| come back exact in the
    * same row, and n·maxAbs²·quantScale/4 < 2⁶² proves no h-sum could
    * have wrapped (g-sums are smaller). Rows with a null label or
    * feature are dropped.
    *
    * Newton from w = 0 (p = ½ exactly), update w += (H + ridge·I)⁻¹ g
    * with H = Σ p(1−p)·x xᵀ, g = Σ (y−p)·x, x₀ = 1 the intercept.
    *
    * Output: ONE row — (n, w0, w1, ..., wd). */
  def logisticFit(df: DataFrame, features: Seq[Column], label: Column,
      iters: Int = 3, ridge: Double = 0.0, quantScale: Double = 1e6,
      maxAbsFeature: Double = 1000.0): DataFrame = {
    val d = features.size
    require(d >= 1 && d <= 8, s"logisticFit supports 1..8 features, got $d")
    require(iters >= 1 && iters <= 20, s"iters in 1..20, got $iters")
    require(quantScale >= 1e3 && quantScale <= 1e12,
      s"quantScale in [1e3, 1e12], got $quantScale")
    val k = d + 1
    val xs: Seq[Column] = lit(1.0) +: features.map(_.cast("double"))
    val y = when(label, lit(1.0)).otherwise(lit(0.0))
    val base = df.filter(label.isNotNull &&
      features.map(_.isNotNull).reduce(_ && _))
    val w = Array.fill(k)(0.0)
    var n = 0L
    for (_ <- 1 to iters) {
      val z = xs.zip(w.toSeq).map { case (x, wi) => x * lit(wi) }
        .reduce(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val gCols = (0 until k).map(j =>
        sum(floor(((y - p) * xs(j)) * lit(quantScale))).as(s"g$j"))
      val hCols = for (j <- 0 until k; l <- j until k) yield
        sum(floor((((p * (lit(1.0) - p)) * xs(j)) * xs(l)) *
          lit(quantScale))).as(s"h${j}_$l")
      val checks = Seq(count(lit(1)).as("n"),
        max(greatest((features.map(f => abs(f.cast("double"))) :+
          lit(0.0)): _*)).as("maxabs"))
      val all = gCols ++ hCols ++ checks
      val row = base.agg(all.head, all.tail: _*).head()
      n = row.getAs[Long]("n")
      require(n > 0, "logisticFit: no complete rows to fit on")
      val maxAbs = row.getAs[Double]("maxabs")
      require(maxAbs <= maxAbsFeature,
        s"logisticFit: |feature| = $maxAbs exceeds maxAbsFeature=" +
          s"$maxAbsFeature — normalize features first")
      // sound post-hoc wrap guard: n and max|x| are exact, and this
      // bound dominates every per-row |quantized contribution|
      require(n.toDouble * math.max(maxAbs, 1.0) * math.max(maxAbs, 1.0) *
        quantScale / 4.0 < math.pow(2, 62) &&
        n.toDouble * math.max(maxAbs, 1.0) * quantScale < math.pow(2, 62),
        "logisticFit: n*maxAbs^2*quantScale may wrap BIGINT sums — " +
          "lower quantScale or normalize features")
      val g = Array.tabulate(k)(j =>
        row.getAs[Long](s"g$j").toDouble / quantScale)
      val a = Array.tabulate(k, k) { (j, l) =>
        val (lo, hi) = if (j <= l) (j, l) else (l, j)
        val v = row.getAs[Long](s"h${lo}_$hi").toDouble / quantScale
        if (j == l) v + ridge else v
      }
      val dw = solveFixed(a, g)
      var j = 0
      while (j < k) { w(j) = w(j) + dw(j); j += 1 }
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false) +:
        (0 until k).map(j => org.apache.spark.sql.types.StructField(
          s"w$j", org.apache.spark.sql.types.DoubleType, nullable = false)))
    df.sparkSession.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(n +: w.toSeq)), schema)
  }

  /** Fixed-order small linear solve for [[logisticFit]]: explicit
    * Cramer cofactors for k ≤ 3 (the exact expression trees the SQL
    * oracle replays), deterministic no-pivot-choice-ambiguity Gaussian
    * elimination with partial pivoting for k ≤ 9. Raises on a singular
    * system (det = 0 / zero pivot) — ridge it instead. */
  private[graft] def solveFixed(a: Array[Array[Double]],
      g: Array[Double]): Array[Double] = a.length match {
    case 1 =>
      require(a(0)(0) != 0.0, "logisticFit: singular 1x1 Hessian")
      Array(g(0) / a(0)(0))
    case 2 =>
      val det = a(0)(0) * a(1)(1) - a(0)(1) * a(1)(0)
      require(det != 0.0, "logisticFit: singular 2x2 Hessian")
      Array((g(0) * a(1)(1) - a(0)(1) * g(1)) / det,
        (a(0)(0) * g(1) - g(0) * a(1)(0)) / det)
    case 3 =>
      val det = a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
        a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
        a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
      require(det != 0.0, "logisticFit: singular 3x3 Hessian")
      val d0 = g(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
        a(0)(1) * (g(1) * a(2)(2) - a(1)(2) * g(2)) +
        a(0)(2) * (g(1) * a(2)(1) - a(1)(1) * g(2))
      val d1 = a(0)(0) * (g(1) * a(2)(2) - a(1)(2) * g(2)) -
        g(0) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
        a(0)(2) * (a(1)(0) * g(2) - g(1) * a(2)(0))
      val d2 = a(0)(0) * (a(1)(1) * g(2) - g(1) * a(2)(1)) -
        a(0)(1) * (a(1)(0) * g(2) - g(1) * a(2)(0)) +
        g(0) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
      Array(d0 / det, d1 / det, d2 / det)
    case k =>
      // dense elimination, deterministic: pivot = first row with the
      // strictly largest |value| (ties to the lowest index)
      val m = Array.tabulate(k)(i => a(i).clone() :+ g(i))
      for (c <- 0 until k) {
        var piv = c
        for (r <- c + 1 until k)
          if (math.abs(m(r)(c)) > math.abs(m(piv)(c))) piv = r
        require(m(piv)(c) != 0.0, "logisticFit: singular Hessian")
        val tmp = m(c); m(c) = m(piv); m(piv) = tmp
        for (r <- c + 1 until k) {
          val f = m(r)(c) / m(c)(c)
          for (cc <- c until k + 1) m(r)(cc) = m(r)(cc) - f * m(c)(cc)
        }
      }
      val x = new Array[Double](k)
      for (r <- k - 1 to 0 by -1) {
        var s = m(r)(k)
        for (cc <- r + 1 until k) s -= m(r)(cc) * x(cc)
        x(r) = s / m(r)(r)
      }
      x
  }

  /** Serve a [[logisticFit]] model: σ(w·x) as a pure column expression
    * (fixed-order dot, no join, no UDF) — broadcast-free because the
    * weights are plan-time literals. */
  def logisticScore(features: Seq[Column], weights: Seq[Double]): Column = {
    require(weights.size == features.size + 1,
      "weights must be (intercept +: per-feature)")
    val xs = lit(1.0) +: features.map(_.cast("double"))
    val z = xs.zip(weights).map { case (x, wi) => x * lit(wi) }
      .reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Per-class precision/recall/F1 from (truth, prediction) pairs —
    * the labeling-QA face (how good is the langid guesser / the quality
    * classifier / an annotator, per class): one confusion-matrix
    * aggregation, then three narrow re-aggs full-joined per (group,
    * class) so classes that appear only as truth (never predicted) or
    * only as prediction (hallucinated) still get a row with the honest
    * zero. Metrics are single divisions of exact BIGINTs — F1 uses the
    * count identity 2·tp/(n_true + n_pred) (= 2PR/(P+R)) so it is ONE
    * division, not a nested float expression. Null truth/pred rows
    * drop.
    *
    * Output: groups... + (class, n_true, n_pred, tp, precision,
    * recall, f1); metrics null where their denominator is 0. */
  def classificationReport(df: DataFrame, groupCols: Seq[Column],
      truth: Column, pred: Column): DataFrame =
    classificationReportFromCounts(
      confusionCounts(df, groupCols, truth, pred),
      groupCols.map(_.toString))

  /** Matthews correlation coefficient per group — the single-number
    * binary-classification summary that stays honest under class
    * imbalance (accuracy and F1 both inflate on a 99:1 corpus; MCC is
    * the ±1-bounded correlation of the 2×2 confusion matrix):
    *
    *   MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))
    *
    * One aggregation pass for the four exact cells; the numerator is
    * exact BIGINT arithmetic (|tp·tn| ≤ N²/4 < 2⁶³ for N < ~6·10⁹) and
    * the denominator casts each margin to double BEFORE multiplying
    * (the product can reach N⁴), in fixed left-to-right order — one √,
    * one division, both correctly rounded, so the value hashes
    * cross-engine. Null when any margin is 0 (MCC undefined). */
  def mccBinary(df: DataFrame, groupCols: Seq[Column], truth: Column,
      pred: Column): DataFrame = {
    val complete = df.filter(truth.isNotNull && pred.isNotNull)
    val cell = (t: Boolean, p: Boolean) =>
      sum(when(truth === lit(t) && pred === lit(p), 1L).otherwise(0L))
    val agg = complete.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"), cell(true, true).as("tp"),
        cell(false, false).as("tn"), cell(true, false).as("fn"),
        cell(false, true).as("fp"))
    val m1 = (col("tp") + col("fp")).cast("double")
    val m2 = (col("tp") + col("fn")).cast("double")
    val m3 = (col("tn") + col("fp")).cast("double")
    val m4 = (col("tn") + col("fn")).cast("double")
    agg.withColumn("mcc",
      when(m1 > 0.0 && m2 > 0.0 && m3 > 0.0 && m4 > 0.0,
        (col("tp") * col("tn") - col("fp") * col("fn")).cast("double") /
          sqrt(m1 * m2 * m3 * m4)))
  }

  /** The mergeable PARTIAL behind [[classificationReport]] /
    * [[cohenKappa]] — per-(group, truth, pred) exact counts, the
    * at-rest confusion matrix: associative BIGINTs, so batch-sliced
    * partials re-summed are exactly the one-shot matrix and both
    * readouts stay bit-identical under any slicing. */
  def confusionCounts(df: DataFrame, groupCols: Seq[Column], truth: Column,
      pred: Column): DataFrame =
    df.filter(truth.isNotNull && pred.isNotNull)
      .groupBy(groupCols :+ truth.as("truth") :+ pred.as("pred"): _*)
      .agg(count(lit(1)).as("n"))

  /** Component-wise exact re-sum of [[confusionCounts]] tables. */
  def mergeConfusionCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "truth" :+ "pred").map(col): _*)
      .agg(sum("n").as("n"))

  /** Finalize a (possibly merged) [[confusionCounts]] table into the
    * [[classificationReport]] output schema. */
  def classificationReportFromCounts(counts: DataFrame,
      groupNames: Seq[String]): DataFrame = {
    val cm = counts.select((groupNames.map(col) :+ col("truth").as("__t") :+
      col("pred").as("__p") :+ col("n").as("__n")): _*)
    val tCounts = cm
      .groupBy(groupNames.map(col) :+ col("__t").as("class"): _*)
      .agg(sum("__n").as("n_true"))
    val pCounts = cm
      .groupBy(groupNames.map(col) :+ col("__p").as("class"): _*)
      .agg(sum("__n").as("n_pred"))
    val tp = cm.filter(col("__t") === col("__p"))
      .select(groupNames.map(col) :+ col("__t").as("class") :+
        col("__n").as("tp"): _*)
    tCounts.join(pCounts, groupNames :+ "class", "full")
      .join(tp, groupNames :+ "class", "left")
      .na.fill(0L, Seq("n_true", "n_pred", "tp"))
      .withColumn("precision", when(col("n_pred") > 0,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall", when(col("n_true") > 0,
        col("tp").cast("double") / col("n_true").cast("double")))
      .withColumn("f1", when(col("n_true") + col("n_pred") > 0,
        lit(2.0) * col("tp").cast("double") /
          (col("n_true") + col("n_pred")).cast("double")))
  }

  /** Finalize a (possibly merged) BOOLEAN-labeled [[confusionCounts]]
    * table into the [[mccBinary]] output schema — cells re-summed from
    * the matrix (exact, associative), then the same fixed float tail. */
  def mccFromCounts(counts: DataFrame,
      groupNames: Seq[String]): DataFrame = {
    val cell = (t: Boolean, p: Boolean) =>
      sum(when(col("truth") === lit(t) && col("pred") === lit(p),
        col("n")).otherwise(0L))
    val agg = counts.groupBy(groupNames.map(col): _*)
      .agg(sum("n").as("n"), cell(true, true).as("tp"),
        cell(false, false).as("tn"), cell(true, false).as("fn"),
        cell(false, true).as("fp"))
    val m1 = (col("tp") + col("fp")).cast("double")
    val m2 = (col("tp") + col("fn")).cast("double")
    val m3 = (col("tn") + col("fp")).cast("double")
    val m4 = (col("tn") + col("fn")).cast("double")
    agg.withColumn("mcc",
      when(m1 > 0.0 && m2 > 0.0 && m3 > 0.0 && m4 > 0.0,
        (col("tp") * col("tn") - col("fp") * col("fn")).cast("double") /
          sqrt(m1 * m2 * m3 * m4)))
  }

  /** Finalize a (possibly merged) [[confusionCounts]] table into the
    * [[cohenKappa]] output schema — same exact one-division κ. */
  def cohenKappaFromCounts(counts: DataFrame,
      groupNames: Seq[String]): DataFrame = {
    val agree = counts.groupBy(groupNames.map(col): _*)
      .agg(sum("n").as("n"),
        sum(when(col("truth") === col("pred"), col("n")).otherwise(0L))
          .as("n_agree"))
    val c1 = counts.groupBy(groupNames.map(col) :+ col("truth").as("__c"): _*)
      .agg(sum("n").as("__n1"))
    val c2 = counts.groupBy(groupNames.map(col) :+ col("pred").as("__c"): _*)
      .agg(sum("n").as("__n2"))
    val pe = c1.join(c2, groupNames :+ "__c")
      .groupBy(groupNames.map(col): _*)
      .agg(sum(col("__n1") * col("__n2")).as("__pe"))
    agree.join(pe, groupNames, "left")
      .na.fill(0L, Seq("__pe"))
      .withColumn("kappa", when(col("n") * col("n") =!= col("__pe"),
        (col("n") * col("n_agree") - col("__pe")).cast("double") /
          (col("n") * col("n") - col("__pe")).cast("double")))
      .drop("__pe")
  }

  /** Cohen's κ chance-corrected agreement per group — the standard
    * inter-rater / model-vs-truth agreement statistic behind every
    * labeling-quality audit. FULLY exact: with a = agreements, N =
    * rows, p = Σ_class n₁(c)·n₂(c) (exact BIGINT products),
    *
    *   κ = (a/N − p/N²) / (1 − p/N²) = (a·N − p) / (N² − p)
    *
    * — ONE division of two exact BIGINTs, no float accumulates
    * anywhere. κ is null when N² = p (a degenerate single-class
    * marginal has no chance correction). BIGINT bound: N² < 2⁶³
    * (N < ~3·10⁹ rows per group — pre-aggregate beyond).
    *
    * Output: groups... + (n, n_agree, kappa). */
  def cohenKappa(df: DataFrame, groupCols: Seq[Column], r1: Column,
      r2: Column): DataFrame =
    cohenKappaFromCounts(confusionCounts(df, groupCols, r1, r2),
      groupCols.map(_.toString))

  /** Cochran's Q test per group (Cochran 1950) — "do these k binary
    * judges differ": k models/annotators each judge the SAME items
    * pass/fail (a complete block design); Q tests whether their
    * success rates differ beyond chance, respecting the per-item
    * correlation a naive k-proportion χ² ignores. The all-integer
    * form:
    *
    *   Q = (k−1)·(k·Σ_j c_j² − (Σ c_j)²) / (k·Σ_i r_i − Σ_i r_i²)
    *
    * with c_j = per-judge success totals and r_i = per-item success
    * counts — every sum an exact BIGINT, the statistic ONE division
    * (χ² with k−1 dof under H₀). Q is null when the denominator is 0
    * (every item unanimous — no within-item information). Items
    * missing a judge fail fast (Cochran requires complete blocks).
    *
    * Input: one row per (item, judge) with a boolean outcome.
    * Output: groups... + (n_items, k_judges, q_stat). */
  def cochranQ(df: DataFrame, groupCols: Seq[String], itemCol: Column,
      judgeCol: Column, outcomeCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val o = outcomeCol.cast("boolean")
    val cells = df
      .filter(itemCol.isNotNull && judgeCol.isNotNull && o.isNotNull)
      .groupBy(g :+ itemCol.as("item") :+ judgeCol.as("judge"): _*)
      .agg(max(when(o, 1L).otherwise(0L)).as("s"),
        count(lit(1)).as("__dup"))
      .filter(assert_true(col("__dup") === 1L,
        lit("cochranQ: duplicate (item, judge) rows — aggregate to " +
          "one verdict per pair first")).isNull)
    val k = cells.groupBy(g: _*)
      .agg(count_distinct(col("judge")).as("k_judges"))
    val items = cells.groupBy(g :+ col("item"): _*)
      .agg(count(lit(1)).as("__kj"), sum(col("s")).as("__ri"))
    val perGroup = items.join(k, groupCols)
      .filter(assert_true(col("__kj") === col("k_judges"),
        lit("cochranQ: an item is missing judges — Cochran requires " +
          "complete blocks")).isNull)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_items"), sum(col("__ri")).as("__sr"),
        sum(col("__ri") * col("__ri")).as("__sr2"))
    val judges = cells.groupBy(g :+ col("judge"): _*)
      .agg(sum(col("s")).as("__cj"))
      .groupBy(g: _*)
      .agg(sum(col("__cj") * col("__cj")).as("__sc2"))
    val kj = col("k_judges")
    val num = (kj - 1L) * (kj * col("__sc2") - col("__sr") * col("__sr"))
    val den = kj * col("__sr") - col("__sr2")
    perGroup.join(k, groupCols).join(judges, groupCols)
      // wrap witness (the cuped/ratioFromMoments convention): __sr ≤
      // k·N and k·Σc_j² ≤ (k·N)², so every product above stays in
      // BIGINT iff k·N < √(2⁶³). The witness multiplies as DOUBLE, so
      // it cannot itself wrap.
      .filter(assert_true(kj.cast("double") *
          col("n_items").cast("double") <= 3.037e9,
        lit("cochranQ: k_judges*n_items too large — BIGINT wrap; " +
          "shard groups first")).isNull)
      .withColumn("q_stat", when(den > 0L,
        num.cast("double") / den.cast("double")))
      .select(g ++ Seq(col("n_items"), col("k_judges"),
        col("q_stat")): _*)
  }

  /** McNemar's test per group (McNemar 1947) — the PAIRED two-model
    * comparison: on the same items, is model A right where B is wrong
    * more often than vice versa? Only the discordant counts carry
    * information:
    *
    *   χ² = (b − c)² / (b + c)
    *
    * with b = A-only successes, c = B-only successes — exact BIGINTs,
    * one division (χ² with 1 dof, no continuity correction); null when
    * b + c = 0 (no discordant pairs). The marginal-rate twin of
    * [[cochranQ]] at k = 2; unlike an unpaired two-proportion z it
    * discards the correlated concordant mass.
    *
    * Input: one row per item with both models' boolean outcomes.
    * Output: groups... + (n, b, c, chi2). */
  def mcnemar(df: DataFrame, groupCols: Seq[String], outcomeA: Column,
      outcomeB: Column): DataFrame = {
    val a = outcomeA.cast("boolean"); val b = outcomeB.cast("boolean")
    df.filter(a.isNotNull && b.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(a && !b, 1L).otherwise(0L)).as("b"),
        sum(when(!a && b, 1L).otherwise(0L)).as("c"))
      .withColumn("chi2", when(col("b") + col("c") > 0L,
        ((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
          (col("b") + col("c")).cast("double")))
  }

  /** Fleiss' κ multi-rater agreement per group (Fleiss, Psych. Bull.
    * 1971) — [[cohenKappa]] generalized past two raters: the LLM
    * labeling-QA statistic when every item is judged by n annotators
    * (or n model runs). With n_ij = ratings of item i in category j,
    * c_j = column totals, N items, n raters per item:
    *
    *   P̄  = (Σ_ij n_ij² − N·n) / (N·n·(n−1))
    *   P̄e = Σ_j c_j² / (N·n)²
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Every sum is an exact BIGINT (Σn_ij², Σc_j², N·n — bound:
    * N·n < ~3·10⁹ per group); the readout is two exact-integer
    * divisions, a subtraction, and one more division — +,·,/ only,
    * hashes unrounded. Unequal per-item rating counts fail fast
    * (Fleiss requires constant n; filter to a fixed panel first).
    * κ and P̄ are null when n = 1 (no within-item pairs); κ null when
    * P̄e = 1 (single-category degenerate).
    *
    * Input: one row per RATING (item, category); the rater identity is
    * irrelevant (Fleiss is anonymous-rater by construction).
    * Output: groups... + (n_items, n_raters, n_categories, p_bar, p_e,
    * kappa). */
  def fleissKappa(df: DataFrame, groupCols: Seq[String], itemCol: Column,
      categoryCol: Column): DataFrame =
    fleissKappaFromCounts(
      ratingCounts(df, groupCols, itemCol, categoryCol), groupCols)

  /** The PARTIAL behind [[fleissKappa]]: exact per-(group, item,
    * category) rating counts — ONE associative sum, so ratings may
    * arrive in any slicing (no closed-item contract: counts per cell
    * re-sum exactly; the constant-n check runs at readout). */
  def ratingCounts(df: DataFrame, groupCols: Seq[String],
      itemCol: Column, categoryCol: Column): DataFrame =
    df.filter(itemCol.isNotNull && categoryCol.isNotNull)
      .groupBy(groupCols.map(col) :+ itemCol.as("item") :+
        categoryCol.as("category"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge [[ratingCounts]] tables: BIGINT re-sum per cell. */
  def mergeRatingCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "item" :+ "category").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Finalize a (possibly merged) [[ratingCounts]] table into the
    * [[fleissKappa]] schema — the streaming-readout face. */
  def fleissKappaFromCounts(counts: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val perItem = counts
      .groupBy(g :+ col("item"): _*)
      .agg(sum(col("cnt")).as("__ni"),
        sum(col("cnt") * col("cnt")).as("__sqi"))
    val items = perItem.groupBy(g: _*)
      .agg(count(lit(1)).as("n_items"), min(col("__ni")).as("__nmin"),
        max(col("__ni")).as("__nmax"), sum(col("__sqi")).as("__sumsq"))
      .filter(assert_true(col("__nmin") === col("__nmax"),
        lit("fleissKappa: items have unequal rating counts — Fleiss " +
          "requires a constant rater panel; filter first")).isNull)
      .withColumn("n_raters", col("__nmax"))
    val cats = counts.groupBy(g :+ col("category"): _*)
      .agg(sum(col("cnt")).as("__cj"))
      .groupBy(g: _*)
      .agg(sum(col("__cj") * col("__cj")).as("__sumcj2"),
        count(lit(1)).as("n_categories"))
    val nn = col("n_items") * col("n_raters")
    val pBar = when(col("n_raters") > 1L,
      (col("__sumsq") - nn).cast("double") /
        (nn * (col("n_raters") - 1L)).cast("double"))
    val pE = col("__sumcj2").cast("double") / (nn * nn).cast("double")
    items.join(cats, groupCols)
      // wrap witness: nn·nn (and Σc_j² ≤ nn²) stays in BIGINT iff
      // N·n < √(2⁶³); DOUBLE multiply so the witness cannot wrap.
      .filter(assert_true(col("n_items").cast("double") *
          col("n_raters").cast("double") <= 3.037e9,
        lit("fleissKappa: n_items*n_raters too large — BIGINT wrap; " +
          "shard groups first")).isNull)
      .withColumn("p_bar", pBar)
      .withColumn("p_e", pE)
      .withColumn("kappa", when(col("p_bar").isNotNull &&
          col("p_e") =!= 1.0,
        (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
      .select(g ++ Seq(col("n_items"), col("n_raters"),
        col("n_categories"), col("p_bar"), col("p_e"),
        col("kappa")): _*)
  }

  /** Krippendorff's α (nominal data) per group (Krippendorff 1970/
    * 2004) — the agreement statistic [[fleissKappa]] can't be: it
    * accepts UNEQUAL per-item rating counts (annotators skip items,
    * panels change) by weighing each item's within-item disagreement
    * against chance disagreement over all pairable ratings:
    *
    *   α = 1 − D_o / D_e
    *   D_o = Σ_i [Σ_c n_ic·(n_i − n_ic) / (n_i − 1)] / n
    *   D_e = Σ_c c_c·(n − c_c) / (n·(n − 1))
    *
    * over items with n_i ≥ 2 (single-rating items carry no pair
    * evidence and drop), n = Σ n_i, c_c = category totals.
    *
    * Portability: the per-item disagreement is a bounded in-row sum
    * with a per-item denominator, so it is QUANTIZED to an exact
    * BIGINT (floor(d_i·quantScale), the logisticFit discipline) before
    * the cross-item sum — associative, plan-order-free; the category
    * totals are exact BIGINTs; the tail is +,·,/ from exact integers,
    * hashes unrounded. SECOND readout of the [[ratingCounts]] stored
    * partial — the streamed labeling state serves both agreement
    * statistics.
    *
    * α is null when D_e = 0 (one category — no chance disagreement) or
    * no pairable items. Output: groups... + (n_items, n_pairable,
    * n_ratings, d_o, d_e, alpha). */
  def krippendorffAlpha(df: DataFrame, groupCols: Seq[String],
      itemCol: Column, categoryCol: Column,
      quantScale: Double = 1e12): DataFrame =
    krippendorffAlphaFromCounts(
      ratingCounts(df, groupCols, itemCol, categoryCol), groupCols,
      quantScale)

  /** Finalize a (possibly merged) [[ratingCounts]] table into the
    * [[krippendorffAlpha]] schema — the streaming-readout face. */
  def krippendorffAlphaFromCounts(counts: DataFrame,
      groupCols: Seq[String], quantScale: Double = 1e12): DataFrame = {
    require(quantScale >= 1e3 && quantScale <= 1e12 &&
      quantScale == math.floor(quantScale),
      s"quantScale integral in [1e3, 1e12], got $quantScale")
    val g = groupCols.map(col)
    // per item: n_i, the in-row disagreement sum, quantized
    val perItem = counts
      .groupBy(g :+ col("item"): _*)
      .agg(sum(col("cnt")).as("__ni"),
        sum(col("cnt") * col("cnt")).as("__sq"))
    // Σ_c n_ic(n_i − n_ic) = n_i² − Σ_c n_ic² — exact BIGINTs
    val dI = (col("__ni") * col("__ni") - col("__sq")).cast("double") /
      (col("__ni") - 1L).cast("double")
    val pairable = perItem.filter(col("__ni") >= 2L)
      .withColumn("__qd", floor(dI * lit(quantScale)).cast("long"))
    val itemsAgg = pairable.groupBy(g: _*)
      .agg(count(lit(1)).as("n_pairable"), sum(col("__ni")).as("n_ratings"),
        sum(col("__qd")).as("__sd"))
    val pairKeys = perItem.filter(col("__ni") >= 2L)
      .select(g :+ col("item"): _*)
    val catsAgg = counts
      .join(pairKeys, groupCols :+ "item", "left_semi")
      .groupBy(g :+ col("category"): _*)
      .agg(sum(col("cnt")).as("__cc"))
      .groupBy(g: _*)
      .agg(sum(col("__cc") * col("__cc")).as("__sumcc2"))
    val allItems = counts.groupBy(g: _*)
      .agg(count_distinct(col("item")).as("n_items"))
    val n = col("n_ratings")
    val dO = (col("__sd").cast("double") / lit(quantScale)) /
      n.cast("double")
    // Σ_c c_c(n − c_c) = n² − Σ c_c²
    val dE = (n * n - col("__sumcc2")).cast("double") /
      (n * (n - 1L)).cast("double")
    allItems
      .join(itemsAgg, groupCols, "left")
      .join(catsAgg, groupCols, "left")
      // wrap witness: n·n (and Σc_c² ≤ n²) stays in BIGINT iff the
      // pairable rating total n < √(2⁶³).
      .filter(assert_true(coalesce(col("n_ratings"), lit(0L)) <=
          3037000499L,
        lit("krippendorffAlpha: n_ratings too large — BIGINT wrap; " +
          "shard groups first")).isNull)
      .withColumn("d_o", when(col("n_pairable") > 0L, dO))
      .withColumn("d_e", when(col("n_pairable") > 0L, dE))
      .withColumn("alpha", when(col("d_e") > 0.0,
        lit(1.0) - col("d_o") / col("d_e")))
      .select(g ++ Seq(col("n_items"),
        coalesce(col("n_pairable"), lit(0L)).as("n_pairable"),
        coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
        col("d_o"), col("d_e"), col("alpha")): _*)
  }

  /** Cronbach's α internal-consistency reliability per group
    * (Cronbach 1951) — "do these k signals measure ONE thing": the
    * standard check before averaging a battery of quality signals
    * (length, punctuation, stopword ratio, judge scores) into a single
    * scale. With per-item sample variances and the variance of the
    * per-unit total:
    *
    *   α = k/(k−1) · (1 − Σᵢ Var(itemᵢ) / Var(Σᵢ itemᵢ))
    *
    * High α ⇒ the signals co-vary (a coherent scale); α near 0 ⇒ they
    * measure different things; negative ⇒ scoring direction mix-ups.
    *
    * Portability (the logisticFit discipline): each item quantizes to
    * an exact BIGINT in-plan (floor(x·quantScale)); per-item and
    * per-total moment sums run exact (Σq BIGINT, Σq² via dec18×dec18),
    * so they are associative and plan-order-free; the variance tail is
    * fixed-order +,·,/ from exact integers, the k-item variance sum
    * folds in DECLARED item order — every column hashes unrounded.
    * ONE aggregation pass, nothing driver-side.
    *
    * α is null when n < 2 or Var(total) ≤ 0 (a constant battery has no
    * reliability to measure). Output: groups... + (n_units, k_items,
    * sum_item_var, total_var, alpha) — variances in original units. */
  def cronbachAlpha(df: DataFrame, groupCols: Seq[String],
      items: Seq[Column], quantScale: Double = 1e6): DataFrame = {
    require(items.size >= 2 && items.size <= 32,
      s"cronbachAlpha needs 2 <= items <= 32, got ${items.size}")
    require(quantScale >= 1.0 && quantScale <= 1e12 &&
      quantScale == math.floor(quantScale),
      s"quantScale integral in [1, 1e12], got $quantScale")
    val dec18 = org.apache.spark.sql.types.DataTypes
      .createDecimalType(18, 0)
    val k = items.size
    val g = groupCols.map(col)
    val quant = df
      .filter(items.map(_.isNotNull).reduce(_ && _))
      .select(g ++ items.zipWithIndex.map { case (it, i) =>
        floor(it.cast("double") * lit(quantScale)).cast("long")
          .as(s"__q$i") }: _*)
      .withColumn("__t",
        (0 until k).map(i => col(s"__q$i")).reduce(_ + _))
    val aggs = (0 until k).flatMap(i => Seq(
        sum(col(s"__q$i")).as(s"__s$i"),
        sum(col(s"__q$i").cast(dec18) * col(s"__q$i").cast(dec18))
          .as(s"__ss$i"))) ++ Seq(
      sum(col("__t")).as("__st"),
      sum(col("__t").cast(dec18) * col("__t").cast(dec18)).as("__sst"),
      count(lit(1)).as("n_units"))
    val agg = quant.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
    val nD = col("n_units").cast("double")
    def varOf(s: Column, ss: Column): Column =
      (ss.cast("double") - s.cast("double") * (s.cast("double") / nD)) /
        (nD - lit(1.0)) / (lit(quantScale) * lit(quantScale))
    val sumItemVar = (0 until k)
      .map(i => varOf(col(s"__s$i"), col(s"__ss$i")))
      .reduce(_ + _)
    val totalVar = varOf(col("__st"), col("__sst"))
    agg
      .withColumn("k_items", lit(k.toLong))
      .withColumn("sum_item_var", when(col("n_units") > 1L, sumItemVar))
      .withColumn("total_var", when(col("n_units") > 1L, totalVar))
      .withColumn("alpha", when(col("total_var") > 0.0,
        (lit(k.toDouble) / lit((k - 1).toDouble)) *
          (lit(1.0) - col("sum_item_var") / col("total_var"))))
      .select(g ++ Seq(col("n_units"), col("k_items"),
        col("sum_item_var"), col("total_var"), col("alpha")): _*)
  }

  /** Empirical-Bayes beta-binomial rate shrinkage per group (Robbins
    * 1956; the method-of-moments prior) — the honest way to RANK units
    * by a rate when trial counts vary wildly (click-through by domain,
    * defect rate by supplier, conversion by page): a 1/1 unit must not
    * outrank a 980/1000 one. Fit Beta(α, β) to the observed per-unit
    * rates by moments, then shrink each unit toward the prior mean in
    * proportion to its evidence:
    *
    *   c = m(1−m)/v − 1,  α = m·c,  β = (1−m)·c,
    *   shrunk_i = (x_i + α) / (n_i + α + β)
    *
    * Portability (the logisticFit discipline): per-unit rates quantize
    * to exact BIGINTs in-plan (floor(rate·quantScale)); Σq is BIGINT,
    * Σq² runs in DECIMAL via dec18×dec18 products (q ≤ 1e12 ⇒ q² ≤
    * 1e24, sums bounded by 38 digits to ~1e14 units) — so the moment
    * sums are associative and the tail is fixed-order +,·,/ from exact
    * integers; every column hashes unrounded. The prior is ONE
    * aggregated row per group, broadcast back — no driver iteration.
    *
    * Degenerate regimes keep the raw rate: v = 0 (all rates equal —
    * nothing to shrink toward), v ≥ m(1−m) (more dispersed than any
    * beta — c ≤ 0), or a single unit (no sample variance); α/β are
    * null there and shrunk = rate.
    *
    * Input: one row per unit with exact (trials, successes). Output:
    * groups... + (id, n, x, rate, alpha, beta, shrunk_rate). */
  def ebShrinkRates(df: DataFrame, groupCols: Seq[String], idCol: Column,
      trialsCol: Column, successesCol: Column,
      quantScale: Double = 1e12): DataFrame = {
    require(quantScale >= 1e3 && quantScale <= 1e12 &&
      quantScale == math.floor(quantScale),
      s"quantScale integral in [1e3, 1e12], got $quantScale")
    val dec18 = org.apache.spark.sql.types.DataTypes
      .createDecimalType(18, 0)
    val g = groupCols.map(col)
    val n = trialsCol.cast("long"); val x = successesCol.cast("long")
    val unit = df
      .filter(n.isNotNull && x.isNotNull && n > 0L)
      .filter(assert_true(x >= 0L && x <= n,
        lit("ebShrinkRates: successes outside [0, trials]")).isNull)
      .select(g ++ Seq(idCol.as("id"), n.as("n"), x.as("x"),
        (x.cast("double") / n.cast("double")).as("rate")): _*)
      .withColumn("__q",
        floor(col("rate") * lit(quantScale)).cast("long"))
    val prior = unit.groupBy(g: _*)
      .agg(count(lit(1)).as("__m"), sum(col("__q")).as("__s1"),
        sum(col("__q").cast(dec18) * col("__q").cast(dec18)).as("__s2"))
    val joined =
      if (groupCols.isEmpty) unit.crossJoin(broadcast(prior))
      else unit.join(broadcast(prior), groupCols)
    val md = col("__m").cast("double")
    val mq = col("__s1").cast("double") / md
    val m1 = mq / lit(quantScale)
    val vq = (col("__s2").cast("double") - col("__s1").cast("double") *
      (col("__s1").cast("double") / md)) / (md - lit(1.0))
    val v = vq / (lit(quantScale) * lit(quantScale))
    val c = m1 * (lit(1.0) - m1) / v - lit(1.0)
    val ok = col("__m") > 1L && v > 0.0 && c > 0.0
    joined
      .withColumn("alpha", when(ok, m1 * c))
      .withColumn("beta", when(ok, (lit(1.0) - m1) * c))
      .withColumn("shrunk_rate", when(ok,
          (col("x").cast("double") + col("alpha")) /
            (col("n").cast("double") + col("alpha") + col("beta")))
        .otherwise(col("rate")))
      .drop("__q", "__m", "__s1", "__s2")
  }

  /** Split-conformal calibration threshold per group (Vovk et al.
    * 2005; Papadopoulos et al. 2002) — distribution-free prediction
    * sets from ANY scorer: given a calibration set of nonconformity
    * scores (higher = stranger), the ⌈(1−α)(n+1)⌉-th smallest score is
    * the cutoff such that a fresh exchangeable point falls at or below
    * it with probability ≥ 1−α. No model assumptions, no parametric
    * tail — the modern guarantee layer over LLM-judge scores,
    * perplexity filters, anomaly scores.
    *
    * EXACT: the threshold is an order statistic (well-defined under
    * ties), selected by integer rank k = ⌈(1−α)(n+1)⌉ via a per-group
    * sort — no floats beyond the input scores themselves, so every
    * column hashes unrounded. k > n (tiny calibration set at this α)
    * yields a null threshold: no finite cutoff carries the guarantee.
    *
    * Scale: one sort-based window per group (the exchange Spark would
    * plan for any exact order statistic) over the CALIBRATION set —
    * typically a small sample, not the corpus.
    *
    * Output: groups... + (n, k, threshold). */
  def conformalThreshold(df: DataFrame, groupCols: Seq[String],
      scoreCol: Column, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val g = groupCols.map(col)
    val s = scoreCol.cast("double")
    val W = org.apache.spark.sql.expressions.Window
    val scored = df.filter(s.isNotNull)
      .select(g :+ s.as("__s"): _*)
      .withColumn("__rn", row_number().over(
        W.partitionBy(g: _*).orderBy(col("__s"))))
      .withColumn("__n", count(lit(1)).over(W.partitionBy(g: _*)))
      .withColumn("__k",
        ceil(lit(1.0 - alpha) * (col("__n") + 1L).cast("double"))
          .cast("long"))
    scored
      .filter(col("__rn") === least(col("__k"), col("__n")))
      .select(g ++ Seq(col("__n").as("n"), col("__k").as("k"),
        when(col("__k") <= col("__n"), col("__s"))
          .as("threshold")): _*)
  }

  /** Apply a [[conformalThreshold]] table to fresh points: flag each
    * row `covered` (score ≤ the group's threshold — inside the 1−α
    * prediction set). Broadcast join of the tiny threshold table; rows
    * in groups with a null threshold (or no calibration row) get a
    * null flag — unknown coverage must not masquerade as either
    * outcome. */
  def applyConformal(df: DataFrame, thresholds: DataFrame,
      groupCols: Seq[String], scoreCol: Column): DataFrame =
    df.join(broadcast(thresholds
        .select((groupCols.map(col) :+ col("threshold")): _*)),
      groupCols, "left")
      .withColumn("covered", when(col("threshold").isNotNull,
        scoreCol.cast("double") <= col("threshold")))

  /** Per-(group, bin) reliability table — the raw material of a
    * calibration curve for a probability score in [0, 1]: equal-width
    * bins (floor(score·nBins), top edge closed), exact counts and
    * positives, and the score mass as a QUANTIZED exact BIGINT
    * (floor(score·quantScale), the micro-logit move — a plain float sum
    * would be plan-ordered). conf = mean predicted probability, acc =
    * observed positive rate; a calibrated scorer has conf ≈ acc in
    * every bin. One aggregation pass; rows with null score/label drop.
    *
    * Output: groups... + (bin, n, n_pos, conf, acc). */
  def reliabilityTable(df: DataFrame, groupCols: Seq[Column], score: Column,
      label: Column, nBins: Int = 10,
      quantScale: Double = 1e9): DataFrame =
    reliabilityFromPartials(
      calibrationPartials(df, groupCols, score, label, nBins, quantScale),
      quantScale)

  /** The mergeable PARTIAL behind [[reliabilityTable]] /
    * [[calibrationError]] — per-(group, bin) exact BIGINTs: count,
    * positives, quantized score mass `sq`, quantized squared-error mass
    * `bq`. All four are associative sums, so batch-sliced partials
    * re-summed per (group, bin) are EXACTLY the one-shot table and both
    * readouts stay bit-identical under any slicing — the
    * moments/binCounts at-rest-artifact pattern; state is groups × bins
    * rows. */
  def calibrationPartials(df: DataFrame, groupCols: Seq[Column],
      score: Column, label: Column, nBins: Int = 10,
      quantScale: Double = 1e9): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins in 2..1000, got $nBins")
    val complete = df.filter(score.isNotNull && label.isNotNull)
      .filter(assert_true(score >= 0.0 && score <= 1.0,
        lit("reliabilityTable: score outside [0, 1] — calibrate " +
          "probabilities, not raw margins")).isNull)
    val y = when(label, lit(1.0)).otherwise(lit(0.0))
    val bin = least(floor(score * lit(nBins)).cast("int"), lit(nBins - 1))
    complete
      .groupBy(groupCols :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(floor(score * lit(quantScale)).cast("long")).as("sq"),
        sum(floor(((score - y) * (score - y)) * lit(quantScale))
          .cast("long")).as("bq"))
  }

  /** Component-wise exact re-sum of [[calibrationPartials]] tables per
    * (group, bin) — the streaming-merge face. */
  def mergeCalibrationPartials(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "bin").map(col): _*)
      .agg(sum("n").as("n"), sum("n_pos").as("n_pos"),
        sum("sq").as("sq"), sum("bq").as("bq"))

  /** Finalize (possibly merged) [[calibrationPartials]] into the
    * [[reliabilityTable]] output schema. */
  def reliabilityFromPartials(partials: DataFrame,
      quantScale: Double = 1e9): DataFrame =
    partials
      .withColumn("conf", (col("sq").cast("double") / lit(quantScale)) /
        col("n").cast("double"))
      .withColumn("acc", col("n_pos").cast("double") / col("n").cast("double"))
      .drop("sq", "bq")

  /** Calibration-quality summary per group: Brier score and Expected
    * Calibration Error — the CALIBRATION half of classifier evaluation
    * ([[auc]] is the ranking half; [[isotonicFit]]/applyCalibration the
    * repair): Brier = mean (score − y)², ECE = Σ_bins (n_b/N)·|acc_b −
    * conf_b| over [[reliabilityTable]]'s bins.
    *
    * Portability: both per-row squared errors and per-bin score masses
    * accumulate as floor-quantized exact BIGINTs, the ECE bin fold runs
    * in fixed ascending-bin order in-row, and every float op after the
    * exact sums is a fixed expression — so both metrics hash
    * cross-engine (up to the shared quantized-transcendental-input
    * convention when the score itself is a σ/exp output).
    *
    * Output: groups... + (n, brier, ece). */
  def calibrationError(df: DataFrame, groupCols: Seq[Column], score: Column,
      label: Column, nBins: Int = 10,
      quantScale: Double = 1e9): DataFrame =
    calibrationErrorFromPartials(
      calibrationPartials(df, groupCols, score, label, nBins, quantScale),
      groupCols.map(_.toString), quantScale)

  /** Finalize (possibly merged) [[calibrationPartials]] into the
    * [[calibrationError]] output schema — the quantized group-level
    * Brier sum is the exact sum of its bin slices, so this equals the
    * one-shot batch computation bit-for-bit. */
  def calibrationErrorFromPartials(partials: DataFrame,
      groupNames: Seq[String], quantScale: Double = 1e9): DataFrame = {
    val rel = reliabilityFromPartials(partials, quantScale)
    val brier = partials
      .groupBy(groupNames.map(col): _*)
      .agg(sum("n").as("n"), sum("bq").as("__bq"))
      .withColumn("brier", (col("__bq").cast("double") / lit(quantScale)) /
        col("n").cast("double"))
      .drop("__bq")
    val ece = rel
      .groupBy(groupNames.map(col): _*)
      .agg(sort_array(collect_list(struct(col("bin"),
        col("n").as("nb"), (col("n").cast("double") *
          abs(col("acc") - col("conf"))).as("term")))).as("__t"))
      .withColumn("ece", aggregate(col("__t"), lit(0.0),
        (a, x) => a + x.getField("term")) /
        aggregate(col("__t"), lit(0L),
          (a, x) => a + x.getField("nb")).cast("double"))
      .drop("__t")
    brier.join(ece, groupNames).select(
      (groupNames.map(col) :+ col("n") :+ col("brier") :+ col("ece")): _*)
  }

  /** Population Stability Index between two cohorts of `x` per group —
    * the standard training-data DRIFT metric (is this week's corpus
    * distributed like last week's? did a source shift under the
    * model?): with fixed bin edges,
    *
    *   PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)
    *
    * where p/q are the cohorts' bin proportions, floored at `eps` (the
    * standard zero-bin treatment; rule of thumb: < 0.1 stable, > 0.25
    * shifted). Edges must be FIXED (caller-chosen, e.g. from a
    * reference-period [[quantileProfile]]) — that is what makes the
    * metric comparable across runs AND engine-portable: bin counts are
    * exact BIGINTs from one aggregation pass (a when-chain bin index,
    * the A14 histogram shape), and the float tail is a fixed expression
    * over their casts, so the registered query hashes exactly against
    * DuckDB. Rows with null x or cohort are dropped; a group with an
    * EMPTY cohort yields null psi (no distribution to compare).
    * `x < edges.head` lands in bin 0, `x ≥ edges.last` in bin
    * `edges.size`; output: groups... + (n1, n2, psi). */
  def psi(df: DataFrame, groupCols: Seq[Column], x: Column, cohort: Column,
      edges: Seq[Double], eps: Double = 1e-6): DataFrame =
    psiFromBinCounts(binCounts(df, groupCols, x, cohort, edges), eps)

  /** Finalize a (possibly merged) [[binCounts]] table into the [[psi]]
    * output schema — the streaming-readout face. */
  def psiFromBinCounts(binned: DataFrame, eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"psi needs 0 < eps < 1, got $eps")
    // the tot=0 branch (empty cohort) still evaluates under ANSI mode
    // even though such groups end as null psi — guard the division
    val prop = (n: Column, tot: Column) =>
      greatest(when(tot > 0, n.cast("double") / tot.cast("double"))
        .otherwise(lit(0.0)), lit(eps))
    divergenceFromCounts(binned, "psi") { (n1, t1, n2, t2) =>
      val p = prop(n1, t1); val q = prop(n2, t2)
      (p - q) * log(p / q)
    }
  }

  /** Jensen–Shannon divergence between two cohorts of `x` per group —
    * [[psi]]'s SYMMETRIC, bounded sibling (JS ∈ [0, ln 2]; 0 iff the
    * binned distributions coincide): with m = (p+q)/2,
    *
    *   JS = ½ Σ_bins [ p·ln(p/m) + q·ln(q/m) ]
    *
    * Unlike PSI no epsilon floor is needed — a zero-probability bin's
    * term is exactly 0 (handled by an explicit guard, not a floor), so
    * JS is the better choice when many bins are empty on one side and
    * PSI's eps would dominate. Same portability construction as [[psi]]:
    * exact BIGINT bin counts in one pass, fixed-order contribution fold.
    * Output: groups... + (n1, n2, js). */
  def jsDivergence(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column, edges: Seq[Double]): DataFrame =
    jsFromBinCounts(binCounts(df, groupCols, x, cohort, edges))

  /** Finalize a (possibly merged) [[binCounts]] table into the
    * [[jsDivergence]] output schema — the streaming-readout face. */
  def jsFromBinCounts(binned: DataFrame): DataFrame =
    divergenceFromCounts(binned, "js") { (n1, t1, n2, t2) =>
      val p = when(t1 > 0, n1.cast("double") / t1.cast("double"))
        .otherwise(lit(0.0))
      val q = when(t2 > 0, n2.cast("double") / t2.cast("double"))
        .otherwise(lit(0.0))
      val m = (p + q) / 2
      val pTerm = when(p > 0, p * log(p / m)).otherwise(lit(0.0))
      val qTerm = when(q > 0, q * log(q / m)).otherwise(lit(0.0))
      (pTerm + qTerm) / 2
    }

  /** Two-sample Kolmogorov–Smirnov statistic per group — the
    * DISTRIBUTION-FREE member of the drift toolkit ([[psi]] is
    * fixed-bin, [[jsDivergence]] information-theoretic; KS needs no
    * edges at all): D = max over x of |F₁(x) − F₂(x)|, the largest gap
    * between the two cohorts' empirical CDFs.
    *
    * ENTIRELY exact until one closing division: per distinct x the
    * cohort counts are BIGINTs, cumulative counts come from one
    * per-group ordered window, and the cross-multiplied gap numerator
    *
    *   d_num = max |cum₁·n₂ − cum₂·n₁|       (exact BIGINT)
    *
    * divides once by n₁·n₂ — so unlike the ln-based divergences, every
    * output column (including `ks`) hashes bit-for-bit with no rounding.
    * Ties are handled by aggregating per DISTINCT x first, so both ECDFs
    * are evaluated after absorbing all tied points — the textbook
    * definition. Rows with null x or cohort are dropped; a group with an
    * empty cohort yields null ks. Overflow: needs n₁·n₂ < 2⁶³ (both
    * cohorts < ~3e9 rows) — guard-raised, not silently wrapped.
    *
    * Scale: one count aggregation + one window + one max aggregation,
    * all partitioned by group; only (group, x, two counts) rows shuffle.
    * Output: groups... + (n1, n2, d_num, ks). */
  def ksStatistic(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame =
    ksFromValueCounts(valueCounts(df, groupCols, x, cohort))

  /** The shared PARTIAL behind [[ksStatistic]] and [[mannWhitneyU]]:
    * exact per-(group, distinct x) cohort counts — the at-rest
    * incremental artifact (the [[welchPartials]] convention). Counts are
    * associative BIGINTs, so batch-sliced partials re-summed per
    * (group, x) are EXACTLY the one-shot table, and both rank readouts
    * stay bit-identical under any slicing. State is bounded by distinct
    * x per group — quantize an unbounded x first. */
  def valueCounts(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame =
    df.filter(x.isNotNull && cohort.isNotNull)
      .groupBy(groupCols :+ x.as("__x"): _*)
      .agg(sum(when(cohort, 1L).otherwise(0L)).as("__c1"),
        sum(when(!cohort, 1L).otherwise(0L)).as("__c2"))

  /** Merge [[valueCounts]] tables: component-wise BIGINT re-sum per
    * (group, x). */
  def mergeValueCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "__x").map(col): _*)
      .agg(sum(col("__c1")).as("__c1"), sum(col("__c2")).as("__c2"))

  /** Finalize a (possibly merged) [[valueCounts]] table into the
    * [[ksStatistic]] output schema. */
  def ksFromValueCounts(counted: DataFrame): DataFrame = {
    val names = counted.columns.dropRight(3).toSeq
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(names.map(col): _*).orderBy(col("__x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(names.map(col): _*)
    counted
      .withColumn("__cum1", sum(col("__c1")).over(wOrd))
      .withColumn("__cum2", sum(col("__c2")).over(wOrd))
      .withColumn("__n1", sum(col("__c1")).over(wAll))
      .withColumn("__n2", sum(col("__c2")).over(wAll))
      .groupBy(names.map(col): _*)
      .agg(first(col("__n1")).as("n1"), first(col("__n2")).as("n2"),
        max(abs(col("__cum1") * col("__n2") - col("__cum2") * col("__n1")))
          .as("d_num"))
      // |cum·n| ≤ n1·n2, so one guard on the product bounds every term;
      // compared in DOUBLE so the comparison itself cannot wrap
      .withColumn("d_num",
        when(col("n1").cast("double") * col("n2").cast("double") >=
            lit(math.pow(2, 63)),
          raise_error(lit("ksStatistic: n1*n2 >= 2^63 - BIGINT gap " +
            "numerators may wrap; pre-aggregate or sample the cohorts"))
            .cast("bigint"))
          .otherwise(col("d_num")))
      .withColumn("ks",
        when(col("n1") > 0 && col("n2") > 0,
          col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double")))
  }

  /** Isotonic regression (Pool Adjacent Violators) per group — the
    * CALIBRATION step for quality classifiers (FineWeb/DCLM-style
    * pipelines train a scorer, then need P(good | score) to pick a keep
    * threshold; raw scores are rarely calibrated): fit the best
    * monotone non-decreasing map from score to empirical label
    * probability.
    *
    * Exactness: scores pre-aggregate per DISTINCT value (exact BIGINT
    * label sums and counts), the PAV merge runs in the native
    * `graft_pav` kernel ([[graft.plans.Pav]]) comparing pool means by
    * cross-multiplication — no division inside the algorithm — and the
    * fit is UNIQUE and confluent in exact arithmetic, so the DuckDB
    * oracle replays it with a different merge order (first-violator
    * recursion) and matches bit-for-bit: pool sums/counts are exact
    * BIGINTs and `calibrated` is ONE closing division. Bound: group
    * totals N need N² < 2⁶³. `label` must be integer-valued (0/1 for
    * probabilities; any monotone-target integer works). `maxLen`
    * fail-fasts too many DISTINCT scores per group — bin a continuous
    * score first (the registered query's move).
    *
    * Scale: one distinct-score aggregation + one per-group collect of
    * (score, sum, cnt) triples — the grouped short-array regime. Output:
    * one row per distinct score — groups... + (score, n, pos_sum,
    * pool_sum, pool_cnt, calibrated), calibrated non-decreasing in
    * score within each group. */
  def isotonicFit(df: DataFrame, groupCols: Seq[Column], score: Column,
      label: Column, maxLen: Int = 100000): DataFrame = {
    val lb = label.cast("bigint")
    val counted = df.filter(score.isNotNull && lb.isNotNull)
      .groupBy(groupCols :+ score.as("score"): _*)
      .agg(sum(lb).as("pos_sum"), count(lit(1)).as("n"))
    val names = counted.columns.dropRight(3).toSeq
    counted
      .groupBy(names.map(col): _*)
      .agg(sort_array(collect_list(struct(col("score"), col("pos_sum"),
        col("n")))).as("__s"))
      .filter(assert_true(size(col("__s")) <= maxLen,
        lit(s"isotonicFit: a group exceeds maxLen=$maxLen distinct " +
          "scores — bin the score first")).isNull)
      .withColumn("__p", call_function("graft_pav",
        transform(col("__s"), x => x.getField("pos_sum")),
        transform(col("__s"), x => x.getField("n"))))
      .select(names.map(col) :+
        posexplode(arrays_zip(col("__s"), col("__p"))): _*)
      .select(names.map(col) ++ Seq(
        col("col.__s.score").as("score"),
        col("col.__s.n").as("n"),
        col("col.__s.pos_sum").as("pos_sum"),
        col("col.__p.pool_sum").as("pool_sum"),
        col("col.__p.pool_cnt").as("pool_cnt"),
        (col("col.__p.pool_sum").cast("double") /
          col("col.__p.pool_cnt").cast("double")).as("calibrated")): _*)
  }

  /** Apply an [[isotonicFit]] table to NEW scores — the serving half of
    * calibration: each row gets the fitted probability of the largest
    * fit score ≤ its own (the step-function semantics of an isotonic
    * fit; scores below every fit knot get null — out of the calibrated
    * range, the caller's policy decision). Exactly [[AsOf.asofJoin]] on
    * (group, score): one union-tag + one window, no join node, so
    * calibrating a 100 TB corpus costs one shuffle on the group key.
    * `fit` must be an [[isotonicFit]] output with the same group column
    * names; attaches (calibrated, pool_sum, pool_cnt). */
  def applyCalibration(scored: DataFrame, fit: DataFrame,
      groupNames: Seq[String], scoreCol: String): DataFrame =
    AsOf.asofJoin(scored,
      fit.select((groupNames :+ "score").map(col) :+
        col("calibrated") :+ col("pool_sum") :+ col("pool_cnt"): _*),
      groupNames, scoreCol, "score",
      Seq("calibrated", "pool_sum", "pool_cnt"))

  /** Lagged cross-correlation between two per-group series — the
    * lead–lag question time-series analysis actually asks ("do clicks
    * this week predict purchases next week?", "does variant share lead
    * case counts?"): for each lag ℓ in [0, maxLag], the Pearson
    * correlation between x_t and y_{t+ℓ} within each group.
    *
    * Construction: the x side fans out to its (t+ℓ) probe rows (one
    * explode, `maxLag+1` rows per input row), equi-joins the y side on
    * (group, t+ℓ) — ONE shuffle join, no window, no per-lag rescan —
    * and each (group, lag) cell aggregates exact BIGINT co-moments in
    * one pass. The closing
    *
    *   r = (n·Σxy − Σx·Σy) / √((n·Σxx − (Σx)²) · (n·Σyy − (Σy)²))
    *
    * is a fixed algebraic float tail (IEEE √ is correctly rounded), so
    * every column hashes bit-for-bit with no rounding — the
    * [[mannWhitneyU]]/[[ksStatistic]] portability class. `t` must be an
    * integer series index (the weekly convention: datediff/7). Cells
    * with n < 2 or a zero variance on either side yield null r. Same
    * n·B² < 2⁶³ integer-magnitude contract as [[groupOls]].
    *
    * Output: groups... + (lag, n, r), one row per present lag. */
  def crossCorr(df: DataFrame, groupCols: Seq[Column], t: Column,
      x: Column, y: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 1000,
      s"crossCorr needs 0 <= maxLag <= 1000, got $maxLag")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select((groupCols :+ t.cast("bigint").as("__t")) ++
        Seq(x.cast("bigint").as("__x"), y.cast("bigint").as("__y")): _*)
    val names = base.columns.dropRight(3).toSeq
    val gcols = names.map(col)
    val probes = base.select(gcols ++ Seq(col("__t"), col("__x")): _*)
      .withColumn("lag", explode(sequence(lit(0L), lit(maxLag.toLong))))
      .withColumn("__tj", col("__t") + col("lag"))
    val ys = base.select(gcols ++ Seq(col("__t").as("__tj"), col("__y")): _*)
    probes.join(ys, names :+ "__tj")
      .groupBy(gcols :+ col("lag"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .withColumn("r", {
        val vx = col("n") * col("__sxx") - col("__sx") * col("__sx")
        val vy = col("n") * col("__syy") - col("__sy") * col("__sy")
        val num = col("n") * col("__sxy") - col("__sx") * col("__sy")
        when(col("n") > 1 && vx > 0 && vy > 0,
          num.cast("double") / sqrt(vx.cast("double") * vy.cast("double")))
      })
      .drop("__sx", "__sy", "__sxx", "__syy", "__sxy")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test per group — the
    * NONPARAMETRIC complement to [[welchT]]: did cohort 1's values shift
    * relative to cohort 2's, judged by ranks instead of means, so heavy
    * tails and outliers cannot fake or mask a shift. Pairs with
    * [[ksStatistic]] (KS asks "any distributional difference", U asks
    * "a location shift in which direction").
    *
    * Exact-rank construction: per distinct x the tie block spanning
    * pooled ranks (a..b) has midrank (a+b)/2 — kept as the DOUBLED
    * midrank a+b = 2·cum − t + 1, an exact BIGINT from one per-group
    * ordered window. The doubled rank-sum R₁ₓ₂ = Σ c₁·(2·cum − t + 1)
    * and the tie-correction term Σ(t³ − t) are exact BIGINT aggregates,
    * so u1 = (R₁ₓ₂ − n₁(n₁+1))/2 is one exact halving and
    *
    *   z = (u1 − n₁n₂/2) / √( n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))) )
    *
    * is a fixed algebraic float tail — no transcendentals (IEEE √ is
    * correctly rounded on both engines), so EVERY output column hashes
    * bit-for-bit with no rounding. Empty cohorts or all-tied groups
    * (σ = 0) yield null z. Overflow guards: n₁·n₂ and n·max(t)² must
    * stay under 2⁶³ — raised, not wrapped.
    *
    * Scale: one distinct-value aggregation + one ordered window + one
    * final aggregation, all partitioned by group; only (group, x, two
    * counts) rows shuffle. Output: groups... + (n1, n2, r1_x2, u1, z). */
  def mannWhitneyU(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame =
    mannWhitneyFromValueCounts(valueCounts(df, groupCols, x, cohort))

  /** Cliff's delta per group — the EFFECT-SIZE companion to
    * [[mannWhitneyU]]'s significance: δ = P(x₁ > x₂) − P(x₁ < x₂) =
    * 2·U₁/(n₁·n₂) − 1 in [−1, 1], the magnitude question a z-score at
    * scale can't answer (at 10⁸ rows EVERYTHING is significant; δ says
    * whether the shift is big enough to care). Pure derivation from
    * the exact doubled-midrank machinery — U₁ is exact-BIGINT-backed
    * and δ adds two fixed float ops, so it hashes unrounded. Output:
    * [[mannWhitneyU]]'s columns + delta (null when either cohort is
    * empty). */
  def cliffsDelta(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column): DataFrame =
    mannWhitneyU(df, groupCols, x, cohort)
      .withColumn("delta", when(col("n1") > 0L && col("n2") > 0L,
        lit(2.0) * col("u1") /
          (col("n1").cast("double") * col("n2").cast("double")) -
          lit(1.0)))

  /** Finalize a (possibly merged) [[valueCounts]] table into the
    * [[mannWhitneyU]] output schema. */
  def mannWhitneyFromValueCounts(valueCounted: DataFrame): DataFrame = {
    val counted = valueCounted.withColumn("__t", col("__c1") + col("__c2"))
    val names = counted.columns.dropRight(4).toSeq
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(names.map(col): _*).orderBy(col("__x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val agg = counted
      .withColumn("__cum", sum(col("__t")).over(wOrd))
      .groupBy(names.map(col): _*)
      .agg(sum(col("__c1")).as("n1"), sum(col("__c2")).as("n2"),
        sum(col("__c1") * (lit(2L) * col("__cum") - col("__t") + 1L))
          .as("r1_x2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"),
        max(col("__t")).as("__maxt"))
    val n = col("n1") + col("n2")
    val n1n2 = col("n1").cast("double") * col("n2").cast("double")
    // n < 2^31 bounds EVERY doubled-rank quantity: r1_x2 <= 2n·n1 < 2n²,
    // n1(n1+1) < n², n1·n2 <= n²/4 — all under 2^63. The ties term
    // needs its own n·max(t)² bound (max(t) can approach n).
    val guard = when(
      n.cast("double") >= lit(math.pow(2, 31)) ||
        n.cast("double") * col("__maxt").cast("double") *
        col("__maxt").cast("double") >= lit(math.pow(2, 63)),
      raise_error(lit("mannWhitneyU: n >= 2^31 or n*max(ties)^2 >= 2^63 " +
        "- BIGINT rank sums may wrap; pre-aggregate or sample"))
        .cast("bigint"))
    agg
      .withColumn("r1_x2", coalesce(guard, col("r1_x2")))
      .withColumn("u1",
        (col("r1_x2") - col("n1") * (col("n1") + 1L)).cast("double") /
          lit(2.0))
      .withColumn("z", {
        val mu = n1n2 / lit(2.0)
        val varU = n1n2 / lit(12.0) *
          ((n + 1L).cast("double") -
            col("__ties").cast("double") /
              (n * (n - 1L)).cast("double"))
        when(col("n1") > 0 && col("n2") > 0 && varU > 0.0,
          (col("u1") - mu) / sqrt(varU))
      })
      .drop("__ties", "__maxt")
  }

  /** ROC AUC per group — the EVALUATION half of the quality-classifier
    * pipeline ([[isotonicFit]]/applyCalibration being the calibration
    * half): the probability a random positive outranks a random
    * negative under `score`. Not computed by sweeping thresholds: AUC
    * is EXACTLY the normalized Mann–Whitney statistic, AUC = U₁/(n₁·n₂)
    * with midrank tie handling — so this reuses [[mannWhitneyU]]'s
    * exact doubled-midrank BIGINT machinery verbatim and adds ONE
    * division. Rank arithmetic end to end: u1 is an exact half-integer
    * and the division is the only float op, so the value hashes
    * cross-engine. Ties at a score value contribute ½ per pair (the
    * standard trapezoidal convention). Null auc when a group lacks
    * either class.
    *
    * Output: groups... + (n_pos, n_neg, auc). */
  def auc(df: DataFrame, groupCols: Seq[Column], score: Column,
      label: Column): DataFrame =
    mannWhitneyU(df, groupCols, score, label)
      .withColumn("auc", when(col("n1") > 0 && col("n2") > 0,
        col("u1") / (col("n1").cast("double") * col("n2").cast("double"))))
      .withColumnRenamed("n1", "n_pos")
      .withColumnRenamed("n2", "n_neg")
      .drop("r1_x2", "u1", "z")

  /** Partial AUC at a false-positive-rate cap per group (McClish,
    * Med. Decis. Making 1989 — the production-eval variant of [[auc]]:
    * when only the top of the ranking ships, full AUC rewards
    * irrelevant tail ordering). The empirical estimand: keep the
    * k = ⌊fpr·n_neg⌋ HIGHEST-scoring negatives (the hard negatives a
    * threshold at that FPR would admit, selected DETERMINISTICALLY by
    * (score desc, id) — the qiniCurve tie-break convention) and
    * compute the exact midrank pair statistic of positives against
    * just those:
    *
    *   pAUC = [#(s⁺ > s⁻ₖ) + ½ ties] / (n_pos·k)       (∈ [0, 1])
    *   pauc_std = (1 + (pAUC − ½)/... ) — NOT emitted: McClish
    *   standardization is a fixed affine map callers can apply; the
    *   raw conditional probability is the portable number.
    *
    * One ranking window + the [[mannWhitneyU]] machinery — exact
    * BIGINTs, one division. Null when a class (or k) is empty.
    *
    * Output: groups... + (n_pos, n_neg, k_neg, pauc). */
  def partialAuc(df: DataFrame, groupCols: Seq[String], score: Column,
      label: Column, idCol: Column, fpr: Double): DataFrame = {
    require(fpr > 0.0 && fpr <= 1.0, s"fpr in (0,1], got $fpr")
    val g = groupCols.map(col)
    val l = label.cast("boolean")
    val base = df.filter(score.isNotNull && l.isNotNull && idCol.isNotNull)
      .select(g ++ Seq(score.cast("double").as("__s"), l.as("__l"),
        idCol.as("__id")): _*)
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__s").desc, col("__id").asc)
    val negRanked = base.filter(!col("__l"))
      .withColumn("__rn", row_number().over(wNeg))
      .withColumn("__nneg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(g: _*)))
      .withColumn("__k", floor(col("__nneg").cast("double") * lit(fpr))
        .cast("long"))
    val kept = negRanked.filter(col("__rn") <= col("__k"))
      .select(g ++ Seq(col("__s"), col("__l"), col("__nneg"),
        col("__k")): _*)
    val pos = base.filter(col("__l"))
      .select(g ++ Seq(col("__s"), col("__l"),
        lit(null).cast("long").as("__nneg"),
        lit(null).cast("long").as("__k")): _*)
    val res = auc(pos.unionByName(kept), g, col("__s"), col("__l"))
      .withColumnRenamed("auc", "pauc")
      .withColumnRenamed("n_neg", "k_neg")
    val negTotals = negRanked.groupBy(g: _*)
      .agg(max(col("__nneg")).as("n_neg"))
    res.join(negTotals, groupCols, "left")
      .select(g ++ Seq(col("n_pos"), coalesce(col("n_neg"), lit(0L))
        .as("n_neg"), col("k_neg"), col("pauc")): _*)
  }

  /** Required sample size per arm for a two-proportion test per group
    * (the classic normal-approximation design formula every experiment
    * platform quotes): with the OBSERVED baseline rate p̂ as control,
    * p₂ = p̂ + mde, p̄ = (p̂+p₂)/2,
    *
    *   n/arm = ⌈ (z_{α/2}·√(2·p̄(1−p̄)) + z_β·√(p̂(1−p̂)+p₂(1−p₂)))²
    *             / mde² ⌉
    *
    * z quantiles come from LITERAL published constants (the
    * group-sequential-table convention — no erf in-plan): α two-sided
    * ∈ {0.05 → 1.959963984540054, 0.01 → 2.5758293035489004}, power ∈
    * {0.8 → 0.8416212335705798, 0.9 → 1.2815515655446004}. Baseline
    * counts are exact BIGINTs; the tail is fixed-order +,·,/,√ —
    * hashes unrounded. n_required null when the baseline is degenerate
    * or p₂ leaves (0,1).
    *
    * Output: groups... + (n, x, p_hat, mde, n_required). */
  def requiredSampleSize(df: DataFrame, groupCols: Seq[Column],
      outcome: Column, mde: Double, alpha: Double = 0.05,
      power: Double = 0.8): DataFrame = {
    require(mde != 0.0 && math.abs(mde) < 1.0,
      s"mde nonzero in (-1,1), got $mde")
    val zA = alpha match {
      case 0.05 => 1.959963984540054
      case 0.01 => 2.5758293035489004
      case a => throw new IllegalArgumentException(
        s"alpha in {0.05, 0.01} (literal z table), got $a")
    }
    val zB = power match {
      case 0.8 => 0.8416212335705798
      case 0.9 => 1.2815515655446004
      case p => throw new IllegalArgumentException(
        s"power in {0.8, 0.9} (literal z table), got $p")
    }
    val o = outcome.cast("boolean")
    val agg = df.filter(o.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(o, 1L).otherwise(0L)).as("x"))
    val p1 = col("x").cast("double") / col("n").cast("double")
    val p2 = p1 + lit(mde)
    val pBar = (p1 + p2) / lit(2.0)
    val num = lit(zA) * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar)) +
      lit(zB) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    agg
      .withColumn("p_hat", p1)
      .withColumn("mde", lit(mde))
      .withColumn("n_required",
        when(p1 > 0.0 && p1 < 1.0 && p2 > 0.0 && p2 < 1.0,
          ceil(num * num / lit(mde * mde)).cast("long")))
  }

  /** Spearman rank correlation per group — the monotone-association
    * complement to [[crossCorr]]'s linear Pearson: does y tend to
    * increase with x at all, judged on ranks, so any monotone transform
    * of either variable leaves the statistic unchanged and outliers get
    * rank-bounded influence. With x = time it doubles as a trend test
    * (the rank-correlation sibling of [[mannKendall]], at one window
    * pass instead of an S-count).
    *
    * Exact-rank construction: each row's DOUBLED midrank is
    * `rank() + countLE` where `rank()` is the tie-block min rank
    * (1 + rows strictly below) and `countLE` is the RANGE-frame count of
    * rows at-or-below — both from the SAME sort, so one WindowExec per
    * variable. Doubled midranks per group always sum to n(n+1) exactly,
    * so the CENTERED doubled rank d = dmr − (n+1) sums to zero and
    * Spearman needs no n·Σ cross-moment widening:
    *
    *   rho = Σ dx·dy / √(Σ dx² · Σ dy²)
    *
    * with every sum an exact BIGINT (order-independent) and a fixed
    * algebraic float tail (one multiply, one correctly-rounded √, one
    * divide) — EVERY output column hashes bit-for-bit cross-engine, no
    * rounding, no transcendentals. |d| ≤ n−1 bounds each sum by n³, so
    * the guard raises (not wraps) at n ≥ 2²¹ rows per group; beyond
    * that, pre-aggregate or widen the three sums to DECIMAL(38,0).
    * Groups with n < 2 or a zero-variance side yield null rho.
    *
    * Scale: one hash partition by group feeds all three window passes
    * (sort by x, sort by y, whole-partition n — Catalyst reuses the one
    * Exchange), then one partial-agg shuffle of 4 BIGINTs per group.
    * Ordering ties are BY VALUE (midranks), so the result is
    * deterministic under any physical row order.
    *
    * Output: groups... + (n, num, dx2, dy2, rho). */
  def spearmanCorr(df: DataFrame, groupCols: Seq[Column], x: Column,
      y: Column): DataFrame = {
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(groupCols :+ x.as("__x") :+ y.as("__y"): _*)
    val names = base.columns.dropRight(2).toSeq
    val g = names.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val sx = W.partitionBy(g: _*).orderBy(col("__x"))
    val sy = W.partitionBy(g: _*).orderBy(col("__y"))
    val wg = W.partitionBy(g: _*)
    val le = (s: org.apache.spark.sql.expressions.WindowSpec) =>
      count(lit(1)).over(s.rangeBetween(W.unboundedPreceding, W.currentRow))
    val ranked = base
      .withColumn("__dmrx", rank().over(sx).cast("long") + le(sx))
      .withColumn("__dmry", rank().over(sy).cast("long") + le(sy))
      .withColumn("__n", count(lit(1)).over(wg))
    val dx = col("__dmrx") - (col("__n") + 1L)
    val dy = col("__dmry") - (col("__n") + 1L)
    val agg = ranked.groupBy(g: _*)
      .agg(count(lit(1)).as("n"), sum(dx * dy).as("num"),
        sum(dx * dx).as("dx2"), sum(dy * dy).as("dy2"))
    val guard = when(col("n") >= lit(1L << 21),
      raise_error(lit("spearmanCorr: n >= 2^21 - BIGINT rank moments " +
        "may wrap; pre-aggregate or widen to DECIMAL(38,0)"))
        .cast("bigint"))
    agg
      .withColumn("num", coalesce(guard, col("num")))
      .withColumn("rho", when(col("dx2") > 0L && col("dy2") > 0L,
        col("num").cast("double") /
          sqrt(col("dx2").cast("double") * col("dy2").cast("double"))))
  }

  /** Ranked-retrieval evaluation per group — MRR, average precision,
    * and NDCG@k: the search-quality triad that closes the retrieval
    * block (BM25 / TF-IDF / ANN / RRF produce rankings; this scores
    * them against relevance labels). One row per query group.
    *
    * Determinism: the ranking is score DESC with `tieBreak` ASC pinning
    * equal scores — REQUIRED, because every metric reads positions and
    * a plan-ordered tie would make the result layout-dependent.
    *
    * Portability: ranks and cumulative-positive counts are exact
    * BIGINTs from one ordered window; each AP term is one exact IEEE
    * division (P@i = cumpos/i at relevant i) folded in FIXED rank
    * order, then divided once by n_pos — so `mrr` and `ap` hash
    * bit-for-bit with NO rounding. DCG gains carry log2, so registered
    * faces round `ndcg` (the ln-ulp convention); IDCG folds the ideal
    * prefix min(k, n_pos) in the same fixed order.
    *
    * Scale: one window sort per group (the candidate list — bounded by
    * construction in retrieval evaluation) and one aggregation; ONLY
    * the n_pos relevant rows are collected for the closing folds, and
    * a group whose positives exceed `maxPos` raises rather than
    * silently collecting unbounded state.
    *
    * Output: groups... + (n, n_pos, mrr, ap, ndcg). */
  def rankingMetrics(df: DataFrame, groupCols: Seq[Column], score: Column,
      tieBreak: Column, label: Column, k: Int,
      maxPos: Int = 100000): DataFrame = {
    require(k >= 1 && k <= 100000, s"rankingMetrics needs 1 <= k <= 1e5, got $k")
    val base = df.filter(score.isNotNull && label.isNotNull)
      .select(groupCols ++ Seq(score.as("__s"), tieBreak.as("__tb"),
        label.cast("boolean").as("__l")): _*)
    val names = base.columns.dropRight(3).toSeq
    val g = names.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(g: _*).orderBy(col("__s").desc, col("__tb").asc)
    val ranked = base
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__cp", sum(when(col("__l"), 1L).otherwise(0L))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    val apTerm = col("__cp").cast("double") / col("__r").cast("double")
    val dcgTerm = when(col("__r") <= k.toLong,
      lit(1.0) / log2(col("__r").cast("double") + lit(1.0)))
      .otherwise(lit(0.0))
    val agg = ranked.groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        min(when(col("__l"), col("__r"))).as("__fr"),
        sort_array(collect_list(when(col("__l"),
          struct(col("__r"), apTerm.as("__ap"), dcgTerm.as("__dcg")))))
          .as("__ts"))
      .withColumn("n_pos", when(col("n_pos") > maxPos.toLong,
        raise_error(lit(s"rankingMetrics: a group has > $maxPos " +
          "positives - the closing fold would collect unbounded state; " +
          "raise maxPos explicitly or pre-filter"))
          .cast("bigint")).otherwise(col("n_pos")))
    agg
      .withColumn("mrr", when(col("__fr").isNotNull,
        lit(1.0) / col("__fr").cast("double")))
      .withColumn("ap", when(col("n_pos") > 0L,
        aggregate(col("__ts"), lit(0.0),
          (acc, s) => acc + s.getField("__ap")) /
          col("n_pos").cast("double")))
      .withColumn("ndcg", when(col("n_pos") > 0L, {
        val dcg = aggregate(col("__ts"), lit(0.0),
          (acc, s) => acc + s.getField("__dcg"))
        val idcg = aggregate(
          transform(sequence(lit(1L), least(lit(k.toLong), col("n_pos"))),
            i => lit(1.0) / log2(i.cast("double") + lit(1.0))),
          lit(0.0), (acc, x) => acc + x)
        dcg / idcg
      }))
      .drop("__fr", "__ts")
  }

  /** The PARTIAL behind [[kruskalWallis]]: exact per-(group, level, x)
    * counts — the k-cohort generalization of [[valueCounts]], and like
    * it an associative at-rest summary: batch-sliced partials re-summed
    * per (group, level, x) are exactly the one-shot table. */
  def levelValueCounts(df: DataFrame, groupCols: Seq[Column],
      level: Column, x: Column): DataFrame =
    df.filter(x.isNotNull && level.isNotNull)
      .groupBy(groupCols :+ level.as("__l") :+ x.as("__x"): _*)
      .agg(count(lit(1)).as("__c"))

  /** Merge [[levelValueCounts]] tables: BIGINT re-sum per cell. */
  def mergeLevelValueCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames ++ Seq("__l", "__x")).map(col): _*)
      .agg(sum(col("__c")).as("__c"))

  /** Kruskal–Wallis H test per group — the k-sample generalization of
    * [[mannWhitneyU]] (two cohorts ask "which way did it shift"; k
    * levels ask "do these strata differ AT ALL" — value by source,
    * latency by event type — without assuming normality):
    *
    *   H = 3/(N(N+1)) · Σ_g R2_g²/n_g − 3(N+1)      (doubled ranks)
    *   H_adj = H / (1 − Σ(t³−t)/(N³−N))              (tie correction)
    *
    * Portability: the same doubled-midrank machinery as
    * [[mannWhitneyU]] — per-(level, x) contributions c·(2·cum − t + 1)
    * are exact BIGINTs from one RANGE window over the pooled counts;
    * R2²/n terms convert to double ONCE per level and fold in FIXED
    * level order; N³ stays in double (it would wrap BIGINT at
    * N ≥ 2²¹). The [[mannWhitneyU]] overflow guards apply (N < 2³¹,
    * N·max(t)² < 2⁶³, raise not wrap); `maxLevels` fail-fasts a
    * factor with unbounded cardinality. Groups with all values tied
    * yield null h_adj (zero tie-corrected variance).
    *
    * Scale: one cell aggregation over the data (map-side combined),
    * one RANGE window + two small aggregates over the distinct-value
    * frame. Output: groups... + (n, k_levels, h, h_adj). */
  def kruskalWallis(df: DataFrame, groupCols: Seq[Column], level: Column,
      x: Column, maxLevels: Int = 1000): DataFrame =
    kruskalWallisFromLevelCounts(
      levelValueCounts(df, groupCols, level, x), maxLevels)

  /** Finalize a (possibly merged) [[levelValueCounts]] table — the
    * streaming-readout face. */
  def kruskalWallisFromLevelCounts(cells: DataFrame,
      maxLevels: Int = 1000): DataFrame = {
    val names = cells.columns.dropRight(3).toSeq
    val g = names.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy(g: _*).orderBy(col("__x"))
      .rangeBetween(W.unboundedPreceding, W.currentRow)
    val wTie = W.partitionBy((names :+ "__x").map(col): _*)
    val ranked = cells
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__t", sum(col("__c")).over(wTie))
    val perLevel = ranked
      .groupBy(g :+ col("__l"): _*)
      .agg(sum(col("__c") * (lit(2L) * col("__cum") - col("__t") + 1L))
        .as("__r2"), sum(col("__c")).as("__nl"))
    val tieFrame = ranked
      .groupBy(g :+ col("__x"): _*)
      .agg(first(col("__t")).as("__tv"))
      .groupBy(g: _*)
      .agg(sum(col("__tv")).as("n"),
        sum(col("__tv") * col("__tv") * col("__tv") - col("__tv"))
          .as("__ties"),
        max(col("__tv")).as("__maxt"))
    val byGroup = perLevel
      .groupBy(g: _*)
      .agg(count(lit(1)).as("k_levels"),
        sort_array(collect_list(struct(col("__l"), col("__r2"),
          col("__nl")))).as("__ls"))
      .filter(assert_true(col("k_levels") <= maxLevels.toLong,
        lit(s"kruskalWallis: a group exceeds maxLevels=$maxLevels — " +
          "quantize or bucket the factor first")).isNull)
      .join(tieFrame, names)
    val nD = col("n").cast("double")
    val guard = when(
      nD >= lit(math.pow(2, 31)) ||
        nD * col("__maxt").cast("double") * col("__maxt").cast("double")
          >= lit(math.pow(2, 63)),
      raise_error(lit("kruskalWallis: n >= 2^31 or n*max(ties)^2 >= " +
        "2^63 - BIGINT rank sums may wrap; pre-aggregate or sample"))
        .cast("bigint"))
    byGroup
      .withColumn("n", coalesce(guard, col("n")))
      .withColumn("__hs", aggregate(col("__ls"), lit(0.0), (acc, s) =>
        acc + s.getField("__r2").cast("double") *
          s.getField("__r2").cast("double") /
          s.getField("__nl").cast("double")))
      .withColumn("h", when(col("n") > 1L,
        lit(3.0) / (nD * (nD + lit(1.0))) * col("__hs") -
          lit(3.0) * (nD + lit(1.0))))
      .withColumn("h_adj", {
        val c = lit(1.0) -
          col("__ties").cast("double") / (nD * nD * nD - nD)
        when(col("n") > 1L && c > 0.0, col("h") / c)
      })
      .select(g ++ Seq(col("n"), col("k_levels"), col("h"),
        col("h_adj")): _*)
  }

  /** Jonckheere–Terpstra ordered-alternative trend test per group
    * (Jonckheere, Biometrika 1954; Terpstra 1952) — the k-sample test
    * [[kruskalWallis]] can't be: KW asks "do the levels differ AT
    * ALL"; JT asks "do values INCREASE with the ordered dose" (model
    * size, data fraction, severity tier), summing the pairwise
    * Mann–Whitney counts over all level pairs a < b:
    *
    *   JT = Σ_{a<b} U_ab,   U_ab = #{x_a < x_b} + ½·#{x_a = x_b}
    *
    * Exact counting on the [[levelValueCounts]] seam (THIRD readout of
    * the same stored partial): the cell grid densifies to
    * (level × distinct value) per group — level count k is require-
    * bounded, distinct values stay DISTRIBUTED — then two windows give
    * each cell its strictly-lower-level strictly-lower-value mass and
    * its strictly-lower-level tie mass, and the DOUBLED statistic
    * 2·JT = Σ c·(2·cumLower + tieLower) is one exact BIGINT sum
    * (< N² — safe under the n < 2³¹ guard).
    *
    * The normal readout uses the tie-corrected variance (Hollander &
    * Wolfe §6.2): with per-level n_i, pooled tie sizes t_j,
    *
    *   μ  = (N² − Σn_i²)/4
    *   σ² = A/72 + B/(36·N(N−1)(N−2)) + C/(8·N(N−1))
    *   A  = N(N−1)(2N+5) − Σn_i(n_i−1)(2n_i+5) − Σt_j(t_j−1)(2t_j+5)
    *   B  = Σn_i(n_i−1)(n_i−2) · Σt_j(t_j−1)(t_j−2)
    *   C  = Σn_i(n_i−1) · Σt_j(t_j−1)
    *
    * Portability: tie sums are exact BIGINTs (associative, any plan
    * order; the [[mannWhitneyU]] N·max(t)² wrap guard applies);
    * per-level sums fold in FIXED ascending-level order over the ≤
    * `maxLevels` collected levels (cube terms in double — n_i³ wraps
    * BIGINT at n_i ≥ 2²¹); the z tail is fixed-order +,·,/,√ — every
    * column hashes unrounded. z is null when σ² = 0 (degenerate).
    *
    * Levels order by their NATURAL type ordering — cast doses to a
    * numeric/ordinal type first. Output: groups... + (n, k_levels, jt,
    * mu, sigma, z). */
  def jonckheereTerpstra(df: DataFrame, groupCols: Seq[Column],
      level: Column, x: Column, maxLevels: Int = 100): DataFrame =
    jonckheereFromLevelCounts(
      levelValueCounts(df, groupCols, level, x), maxLevels)

  /** Finalize a (possibly merged) [[levelValueCounts]] table into the
    * [[jonckheereTerpstra]] schema — the streaming-readout face. */
  def jonckheereFromLevelCounts(cells: DataFrame,
      maxLevels: Int = 100): DataFrame = {
    require(maxLevels >= 2 && maxLevels <= 1000,
      s"jonckheereTerpstra needs 2 <= maxLevels <= 1000, got $maxLevels")
    val names = cells.columns.dropRight(3).toSeq
    val g = names.map(col)
    val W = org.apache.spark.sql.expressions.Window
    // densify: every (level × distinct value) cell per group, absent
    // cells at count 0 — k is bounded, values stay distributed.
    // lazy localCheckpoint (r16): the cells frame feeds the level dim,
    // the value dim, AND the grid join — without the cut the upstream
    // levelValueCounts scan+aggregate planned and executed three times.
    val cellsM = cells.localCheckpoint(eager = false)
    val levels = cellsM.select(g :+ col("__l"): _*).distinct()
    val values = cellsM.select(g :+ col("__x"): _*).distinct()
    val grid = levels.join(values, names)
      .join(cellsM, names ++ Seq("__l", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    // within-level running count of strictly smaller values — a ROWS
    // frame is exact here: the densified grid has ONE row per (level,
    // x), so rows-preceding ≡ strictly-smaller x (a RANGE -1 frame
    // would mean "x ≤ current − 1.0" on the double column)
    val wVal = W.partitionBy((names :+ "__l").map(col): _*)
      .orderBy(col("__x")).rowsBetween(W.unboundedPreceding, -1)
    // then across strictly lower levels at fixed value: one row per
    // (group, value, level) ⇒ rows-preceding = lower levels
    val wLvlCum = W.partitionBy((names :+ "__x").map(col): _*)
      .orderBy(col("__l")).rowsBetween(W.unboundedPreceding, -1)
    val contrib = grid
      .withColumn("__cumw", coalesce(sum(col("__c")).over(wVal), lit(0L)))
      .withColumn("__lowLess",
        coalesce(sum(col("__cumw")).over(wLvlCum), lit(0L)))
      .withColumn("__lowTie",
        coalesce(sum(col("__c")).over(wLvlCum), lit(0L)))
    val jt2 = contrib.groupBy(g: _*)
      .agg(sum(col("__c") * (lit(2L) * col("__lowLess") +
        col("__lowTie"))).as("__jt2"))
    // per-level totals → fixed-order fold; pooled tie sizes → BIGINT
    val perLevel = cells.groupBy(g :+ col("__l"): _*)
      .agg(sum(col("__c")).as("__nl"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("k_levels"),
        sort_array(collect_list(struct(col("__l"), col("__nl"))))
          .as("__ls"))
      .filter(assert_true(col("k_levels") <= maxLevels.toLong,
        lit(s"jonckheereTerpstra: a group exceeds maxLevels=$maxLevels " +
          "— the dose factor must be bounded; bucket it first")).isNull)
    val ties = cells.groupBy(g :+ col("__x"): _*)
      .agg(sum(col("__c")).as("__t"))
      .groupBy(g: _*)
      .agg(sum(col("__t")).as("n"), max(col("__t")).as("__maxt"),
        sum(col("__t") * (col("__t") - 1L) *
          (lit(2L) * col("__t") + 5L)).as("__t25"),
        sum(col("__t") * (col("__t") - 1L) * (col("__t") - 2L))
          .as("__t3"),
        sum(col("__t") * (col("__t") - 1L)).as("__t2"))
    val nD = col("n").cast("double")
    val guard = when(
      nD >= lit(math.pow(2, 31)) ||
        nD * col("__maxt").cast("double") * col("__maxt").cast("double")
          >= lit(math.pow(2, 62)),
      raise_error(lit("jonckheereTerpstra: n >= 2^31 or n*max(ties)^2 " +
        ">= 2^62 - BIGINT sums may wrap; pre-aggregate or sample"))
        .cast("bigint"))
    def foldLevels(f: Column => Column): Column =
      aggregate(col("__ls"), lit(0.0),
        (acc, s) => acc + f(s.getField("__nl").cast("double")))
    jt2.join(perLevel, names).join(ties, names)
      .withColumn("n", coalesce(guard, col("n")))
      .withColumn("jt", col("__jt2").cast("double") / lit(2.0))
      .withColumn("mu",
        (nD * nD - foldLevels(x => x * x)) / lit(4.0))
      .withColumn("sigma", {
        val a = nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
          foldLevels(x => x * (x - 1.0) * (lit(2.0) * x + 5.0)) -
          col("__t25").cast("double")
        val b = foldLevels(x => x * (x - 1.0) * (x - 2.0)) *
          col("__t3").cast("double")
        val c = foldLevels(x => x * (x - 1.0)) *
          col("__t2").cast("double")
        val v = a / lit(72.0) +
          b / (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0)) +
          c / (lit(8.0) * nD * (nD - 1.0))
        when(col("n") > 2L && v > 0.0, sqrt(v))
      })
      .withColumn("z", when(col("sigma").isNotNull,
        (col("jt") - col("mu")) / col("sigma")))
      .select(g ++ Seq(col("n"), col("k_levels"), col("jt"), col("mu"),
        col("sigma"), col("z")): _*)
  }

  /** Wilson score interval per group — the uncertainty companion every
    * proportion readout in the QA block lacks ([[classificationReport]]
    * and the calibration tables report point rates; this says how much
    * a rate from n rows can be trusted, and unlike the naive ±z√(pq/n)
    * it stays inside [0,1] and behaves at k = 0 / k = n — exactly the
    * small-strata regime annotator audits live in):
    *
    *   center = (p̂ + z²/2n) / (1 + z²/n)
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
    *
    * Portability: k and n are exact BIGINTs; p̂, center, and half are
    * FIXED float expressions over their casts (one correctly-rounded √,
    * no transcendentals), so every output column hashes bit-for-bit
    * when the mirror replays the same op order. z is a caller literal
    * (1.96 parses to the identical double in any engine). One
    * aggregation, no window. Output: groups... + (n, k, p, lo, hi). */
  def wilsonInterval(df: DataFrame, groupCols: Seq[Column],
      success: Column, z: Double = 1.96): DataFrame = {
    require(z > 0 && z <= 10, s"wilsonInterval needs 0 < z <= 10, got $z")
    val z2 = z * z
    val agg = df.filter(success.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(success.cast("boolean"), 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val denom = lit(1.0) + lit(z2) / nD
    val center = (p + lit(z2) / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z2) / (lit(4.0) * (nD * nD)))) / denom
    agg
      .withColumn("p", p)
      .withColumn("lo", greatest(lit(0.0), center - half))
      .withColumn("hi", least(lit(1.0), center + half))
  }

  /** The PARTIAL behind [[contingencyStats]]: exact per-(group, a, b)
    * cell counts — the at-rest incremental artifact (the [[valueCounts]]
    * convention). Cell counts are associative BIGINTs, so batch-sliced
    * partials re-summed per (group, a, b) are EXACTLY the one-shot
    * table and every readout stays bit-identical under any slicing.
    * State is bounded by distinct (a, b) pairs per group — quantize
    * unbounded categories first. */
  def contingencyCells(df: DataFrame, groupCols: Seq[Column], a: Column,
      b: Column): DataFrame =
    df.filter(a.isNotNull && b.isNotNull)
      .groupBy(groupCols :+ a.as("__a") :+ b.as("__b"): _*)
      .agg(count(lit(1)).as("__nij"))

  /** Merge [[contingencyCells]] tables: BIGINT re-sum per cell. */
  def mergeContingencyCells(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames ++ Seq("__a", "__b")).map(col): _*)
      .agg(sum(col("__nij")).as("__nij"))

  /** General r×c categorical-association profile per group — the
    * feature-selection / leakage-audit face the 2×2 [[chiSquare2x2]]
    * cannot cover: for two categorical columns, Pearson χ², Cramér's V
    * (the [0,1] effect size that makes χ² comparable across cell
    * counts), and mutual information in nats (the information-theoretic
    * reading of the same table — what langid labels reveal about
    * source, what a feature reveals about a label).
    *
    * Portability: cell and marginal counts are exact BIGINTs; both
    * statistics reduce to folds over PRESENT cells only via
    *
    *   χ² = n · Σ nij²/(ri·cj) − n
    *   MI = ln n + (Σ nij·ln(nij/(ri·cj))) / n
    *
    * (the absent-cell χ² mass Σ Eij telescopes to exactly n because the
    * margins are complete). Both folds run in FIXED sorted-cell order
    * (the [[psi]] order-pinning), so χ² and V — built from +,·,/ and
    * one correctly-rounded √ only — hash bit-for-bit with NO rounding;
    * `mi` carries ln, so registered faces round it (the ln-ulp
    * convention, see a_js_divergence). Groups with one row or one
    * column yield χ² = 0 and null V (no degrees of freedom).
    *
    * Scale: one cell aggregation (the only pass over the data), then
    * marginal windows + the closing fold over the SMALL cells frame —
    * r·c rows per group. Output: groups... + (n, r_levels, c_levels,
    * chi2, cramers_v, mi). */
  def contingencyStats(df: DataFrame, groupCols: Seq[Column], a: Column,
      b: Column): DataFrame =
    contingencyFromCells(contingencyCells(df, groupCols, a, b))

  /** Finalize a (possibly merged) [[contingencyCells]] table into the
    * [[contingencyStats]] output schema — the streaming-readout face. */
  def contingencyFromCells(cells: DataFrame): DataFrame = {
    val names = cells.columns.dropRight(3).toSeq
    val W = org.apache.spark.sql.expressions.Window
    val wa = W.partitionBy((names :+ "__a").map(col): _*)
    val wb = W.partitionBy((names :+ "__b").map(col): _*)
    val wg = W.partitionBy(names.map(col): _*)
    val withMargins = cells
      .withColumn("__ri", sum(col("__nij")).over(wa))
      .withColumn("__cj", sum(col("__nij")).over(wb))
      .withColumn("__n", sum(col("__nij")).over(wg))
    val nijD = col("__nij").cast("double")
    val riD = col("__ri").cast("double")
    val cjD = col("__cj").cast("double")
    withMargins
      .withColumn("__chi_t", nijD * nijD / (riD * cjD))
      .withColumn("__mi_t", nijD * log(nijD / (riD * cjD)))
      .groupBy(names.map(col): _*)
      .agg(sum(col("__nij")).as("n"),
        count_distinct(col("__a")).as("r_levels"),
        count_distinct(col("__b")).as("c_levels"),
        // cell contributions fold in FIXED (a, b) order — the same
        // order-pinning that keeps every Stats float engine-portable
        sort_array(collect_list(struct(col("__a"), col("__b"),
          col("__chi_t"), col("__mi_t")))).as("__cs"))
      .withColumn("chi2", {
        val nD = col("n").cast("double")
        nD * aggregate(col("__cs"), lit(0.0),
          (acc, s) => acc + s.getField("__chi_t")) - nD
      })
      .withColumn("cramers_v", {
        val dof = least(col("r_levels"), col("c_levels")) - 1L
        when(dof > 0L,
          sqrt(greatest(col("chi2"), lit(0.0)) /
            (col("n").cast("double") * dof.cast("double"))))
      })
      .withColumn("mi",
        when(col("n") > 0L,
          log(col("n").cast("double")) +
            aggregate(col("__cs"), lit(0.0),
              (acc, s) => acc + s.getField("__mi_t")) /
              col("n").cast("double")))
      .drop("__cs")
  }

  /** Shared body of [[psi]] / [[jsDivergence]]: fixed-edge binning,
    * exact counts, per-group totals, and the FIXED-bin-order
    * contribution fold; `term(n1, t1, n2, t2)` is the per-bin
    * divergence contribution. */
  /** The PARTIAL behind [[psi]] / [[jsDivergence]]: exact per-(group,
    * bin) cohort counts over FIXED edges — the at-rest incremental
    * artifact ([[valueCounts]]' sibling). Bin counts are associative
    * BIGINTs, so batch-sliced partials re-summed per (group, bin) are
    * EXACTLY the one-shot table and both divergence readouts stay
    * bit-identical under any slicing. State is groups × (edges+1) rows. */
  def binCounts(df: DataFrame, groupCols: Seq[Column], x: Column,
      cohort: Column, edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      "binCounts needs non-empty, strictly ascending bin edges")
    val complete = df.filter(x.isNotNull && cohort.isNotNull)
    // bin = number of edges <= x: a fixed sum of comparisons, portable
    val bin = edges.map(e => when(x >= lit(e), 1).otherwise(0))
      .reduce(_ + _)
    complete.groupBy(groupCols :+ bin.as("__bin"): _*)
      .agg(sum(when(cohort, 1L).otherwise(0L)).as("__n1"),
        sum(when(!cohort, 1L).otherwise(0L)).as("__n2"))
  }

  /** Merge [[binCounts]] tables: component-wise BIGINT re-sum per
    * (group, bin). */
  def mergeBinCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "__bin").map(col): _*)
      .agg(sum(col("__n1")).as("__n1"), sum(col("__n2")).as("__n2"))

  private def divergenceFromCounts(binned: DataFrame, outCol: String)(
      term: (Column, Column, Column, Column) => Column): DataFrame = {
    val names = binned.columns.dropRight(3).toSeq // group col names
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(names.map(col): _*)
    val withTot = binned
      .withColumn("__t1", sum(col("__n1")).over(w))
      .withColumn("__t2", sum(col("__n2")).over(w))
    withTot
      .withColumn("__c",
        term(col("__n1"), col("__t1"), col("__n2"), col("__t2")))
      .groupBy(names.map(col): _*)
      .agg(sum(col("__n1")).as("n1"), sum(col("__n2")).as("n2"),
        // bin contributions fold in FIXED bin order (sorted list +
        // left-to-right aggregate), not a plan-ordered float SUM — the
        // same order-pinning that keeps every Stats float portable
        sort_array(collect_list(struct(col("__bin"), col("__c"))))
          .as("__cs"))
      .withColumn(outCol,
        when(col("n1") > 0 && col("n2") > 0,
          aggregate(col("__cs"), lit(0.0),
            (acc, s) => acc + s.getField("__c"))))
      .drop("__cs")
  }

  /** 2×2 chi-square independence test over two boolean conditions — the
    * statistical face of the A12 contingency table: one aggregation pass
    * counts the four cells exactly (BIGINT), then
    *
    *   χ² = n · (ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * with `ad − bc` computed exactly in BIGINT (|cells| ≤ 2^31 keeps the
    * products exact — ENFORCED by a runtime `raise_error` guard, since a
    * silent non-ANSI wrap would emit a wrong χ² with no symptom) and
    * everything after its double cast — the square and the margin
    * products can overflow BIGINT at corpus scale, and in IEEE
    * arithmetic the fixed operand order makes the result identical
    * across engines anyway. Output: one row (a, b, c, d, n, chi2);
    * degenerate margins (a zero row or column) yield null chi2. */
  def chiSquare2x2(df: DataFrame, condA: Column, condB: Column): DataFrame = {
    val cell = (x: Column, y: Column) =>
      sum(when(x && y, 1L).otherwise(0L))
    df.agg(
        cell(condA, condB).as("a"), cell(condA, !condB).as("b"),
        cell(!condA, condB).as("c"), cell(!condA, !condB).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        {
          val det = (col("a") * col("d") - col("b") * col("c"))
            .cast("double")
          val den = (col("a") + col("b")).cast("double") *
            (col("c") + col("d")).cast("double") *
            (col("a") + col("c")).cast("double") *
            (col("b") + col("d")).cast("double")
          when(greatest(col("a"), col("b"), col("c"), col("d")) >
              lit(2147483648L),
            raise_error(lit("chiSquare2x2: a cell exceeds 2^31 — " +
              "ad−bc would overflow BIGINT")).cast("double"))
            .when(den =!= 0.0,
              (col("a") + col("b") + col("c") + col("d")).cast("double") *
                (det * det) / den).as("chi2")
        })
  }

  /** Exact integer moment vector — the typed Aggregator's buffer AND
    * output. Component-wise addition is associative and commutative, so
    * ANY partial-aggregation tree (map-side combine, AQE coalesced
    * reducers, speculative retries) produces the same buffer bit for
    * bit. */
  final case class Moments(n: Long, sx: Long, sy: Long,
      sxx: Long, syy: Long, sxy: Long)

  /** The typed-UDAF face of [[exactMoments]] — the same integer-moment
    * algebra expressed through `org.apache.spark.sql.expressions
    * .Aggregator` (the Dataset-typed custom-aggregation API the engine
    * otherwise never needs): reduce folds one (x, y) pair into the
    * buffer, merge adds buffers component-wise. Feed the result through
    * [[deriveFromMoments]] (as [[exactMomentsTyped]] does) and the output
    * is bit-identical to the Column form — the registered twin query
    * shares a_exact_moments' oracle verbatim. */
  def momentsAggregator: org.apache.spark.sql.expressions.Aggregator[(Long, Long), Moments, Moments] =
    new org.apache.spark.sql.expressions.Aggregator[(Long, Long), Moments, Moments] {
      def zero: Moments = Moments(0L, 0L, 0L, 0L, 0L, 0L)
      def reduce(b: Moments, a: (Long, Long)): Moments = {
        val (x, y) = a
        Moments(b.n + 1, b.sx + x, b.sy + y,
          b.sxx + x * x, b.syy + y * y, b.sxy + x * y)
      }
      def merge(p: Moments, q: Moments): Moments =
        Moments(p.n + q.n, p.sx + q.sx, p.sy + q.sy,
          p.sxx + q.sxx, p.syy + q.syy, p.sxy + q.sxy)
      def finish(r: Moments): Moments = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Moments] =
        org.apache.spark.sql.Encoders.product[Moments]
      def outputEncoder: org.apache.spark.sql.Encoder[Moments] =
        org.apache.spark.sql.Encoders.product[Moments]
    }

  /** [[exactMoments]] computed through [[momentsAggregator]]: same
    * pairwise deletion, same derived columns, same results bit for bit —
    * kept as the library's worked example of a typed UDAF. `groupCol`
    * must be a string-typed column here (the typed groupByKey needs an
    * encoder). */
  def exactMomentsTyped(df: DataFrame, groupCol: Column,
      x: Column, y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xb = x.cast("bigint")
    val yb = y.cast("bigint")
    val groupName = df.select(groupCol).columns.head
    val pairs = df.filter(xb.isNotNull && yb.isNotNull)
      .select(groupCol.cast("string"), xb, yb).as[(String, Long, Long)]
    val agg = pairs
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(momentsAggregator.toColumn)
      .toDF(groupName, "m")
      .select(col(groupName), col("m.n").as("n"),
        col("m.sx").as("sx"), col("m.sy").as("sy"),
        col("m.sxx").as("sxx"), col("m.syy").as("syy"),
        col("m.sxy").as("sxy"))
    deriveFromMoments(agg)
  }

  /** Mergeable per-group quantile profile — the distribution face of
    * [[profile]]: for each group, the discrete quantiles of `valueCol`
    * at `probs`, unpivoted to long form (group cols, prob, value).
    *
    * Uses `approx_percentile` — a Greenwald–Khanna sketch that Spark
    * merges in PARTIAL aggregation: each task summarizes its split into a
    * bounded sketch and only sketches cross the shuffle, so a 100 TB
    * distribution report moves KBs per group, never the values. Rank
    * error is bounded by n/accuracy; whenever accuracy ≥ group size the
    * returned element is the EXACT discrete order statistic (same
    * convention as DuckDB's `quantile_disc`, which the registered
    * query's oracle matches value for value at verification scale).
    *
    * The result value type is `valueCol`'s own type (approx_percentile
    * returns a dataset element, never an interpolation). One aggregation
    * job; the posexplode over `probs.size` array slots is a Generate on
    * the already-tiny grouped output, not a second shuffle. */
  def quantileProfile(df: DataFrame, groupCols: Seq[Column],
      valueCol: Column, probs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be within [0,1]: $probs")
    val probsArr = array(probs.map(lit): _*)
    val grouped = df.groupBy(groupCols: _*)
      .agg(percentile_approx(valueCol, probsArr, lit(accuracy)).as("__qs"))
    grouped
      .select(col("*"), posexplode(col("__qs")).as(Seq("__pos", "value")))
      .withColumn("prob",
        element_at(probsArr, col("__pos").cast("int") + 1))
      .drop("__qs", "__pos")
  }

  /** Kaplan–Meier survival estimator per group (Kaplan & Meier, JASA
    * 1958) — the time-to-event companion of the retention-cohort grid:
    * given per-subject (duration, event) observations where `event` is
    * true for an observed event (churn, failure) and false for a
    * right-censored subject (still active at cutoff), estimate
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with dᵢ = events at tᵢ and nᵢ =
    * subjects still at risk (duration ≥ tᵢ).
    *
    * Shape: one aggregation thins the data to exact per-(group, t)
    * BIGINT counts (d, c) — the only pass over the subjects — then one
    * more collects each group's ≤ `maxTimes` distinct times in-row
    * (sorted; assert_true fail-fast, the grouped short-series regime).
    * nᵢ is an exact integer prefix subtraction; the survival product
    * folds ascending-time with seed 1.0 (1.0·x == x, so a stepwise
    * mirror recursion matches bit-for-bit). The O(times²) in-row
    * prefix folds are bounded by maxTimes, never by subject count.
    *
    * Output: groups... + (t, n_risk, n_events, n_censored, survival),
    * one row per distinct observed time (censor-only times included —
    * survival is flat there but n_risk drops, which the next event
    * time's factor needs). */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column,
      maxTimes: Int = 1000): DataFrame =
    kaplanMeierFromCounts(
      survivalCounts(df, groupCols, durationCol, eventCol),
      groupCols, maxTimes)

  /** The PARTIAL behind [[kaplanMeier]]: exact per-(group, t) BIGINT
    * (events, censored) counts over CLOSED subject observations — two
    * associative sums, so batch-sliced partials re-summed per cell are
    * exactly the one-shot table (the at-rest incremental artifact;
    * state is the distinct-time grid, never subject history). The
    * streaming contract: a (duration, event) observation is an
    * immutable FACT about a closed subject — an open subject must not
    * be emitted, because its duration and churn status would mutate. */
  def survivalCounts(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column): DataFrame = {
    val ev = eventCol.cast("boolean")
    df.filter(durationCol.isNotNull && ev.isNotNull)
      .groupBy(groupCols.map(col) :+ durationCol.cast("double").as("t"): _*)
      .agg(sum(when(ev, 1L).otherwise(0L)).as("d"),
        sum(when(!ev, 1L).otherwise(0L)).as("c"))
  }

  /** Merge [[survivalCounts]] tables: BIGINT re-sum per (group, t). */
  def mergeSurvivalCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "t").map(col): _*)
      .agg(sum(col("d")).as("d"), sum(col("c")).as("c"))

  /** The per-group time grid every [[survivalCounts]] readout folds
    * over: `__s` the ascending (t, d, c) structs, `__n` the subject
    * total; a group with more than `maxTimes` distinct times fails
    * fast. `name` is the readout named in the guards' messages. */
  private def survivalGrid(counts: DataFrame, g: Seq[Column], name: String,
      maxTimes: Int): DataFrame = {
    require(maxTimes >= 1 && maxTimes <= 10000,
      s"$name needs 1 <= maxTimes <= 10000, got $maxTimes")
    counts.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("c"))))
        .as("__s"),
        sum(col("d") + col("c")).as("__n"))
      .filter(assert_true(size(col("__s")) <= maxTimes,
        lit(s"$name: a group exceeds maxTimes=$maxTimes distinct " +
          "times — bin durations coarser first")).isNull)
  }

  /** Finalize a (possibly merged) [[survivalCounts]] table into the
    * [[kaplanMeier]] schema — the streaming-readout face. */
  def kaplanMeierFromCounts(counts: DataFrame, groupCols: Seq[String],
      maxTimes: Int = 1000): DataFrame = {
    val g = groupCols.map(col)
    val grouped = survivalGrid(counts, g, "kaplanMeier", maxTimes)
    val s = col("__s")
    val rows = transform(sequence(lit(1), size(s)), i => {
      // running (consumed, product) over times 1..i — the accumulator
      // carries the at-risk bookkeeping so nⱼ inside the fold is exact
      val fin = aggregate(slice(s, lit(1), i),
        struct(lit(0L).as("u"), lit(1.0).as("p")),
        (acc, x) => {
          val n = col("__n") - acc.getField("u")
          struct(
            (acc.getField("u") + x.getField("d") + x.getField("c"))
              .as("u"),
            (acc.getField("p") * (lit(1.0) -
              x.getField("d").cast("double") / n.cast("double"))).as("p"))
        })
      val prior = aggregate(slice(s, lit(1), i - 1), lit(0L),
        (a, x) => a + x.getField("d") + x.getField("c"))
      struct(element_at(s, i).getField("t").as("t"),
        (col("__n") - prior).as("n_risk"),
        element_at(s, i).getField("d").as("n_events"),
        element_at(s, i).getField("c").as("n_censored"),
        fin.getField("p").as("survival"))
    })
    grouped
      .withColumn("__e", explode(rows))
      .select(g ++ Seq(col("__e").getField("t").as("t"),
        col("__e").getField("n_risk").as("n_risk"),
        col("__e").getField("n_events").as("n_events"),
        col("__e").getField("n_censored").as("n_censored"),
        col("__e").getField("survival").as("survival")): _*)
  }

  /** Nelson–Aalen cumulative-hazard estimator per group (Nelson 1972;
    * Aalen, Ann. Stat. 1978) — the hazard-side readout of the survival
    * block: H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ with the same dᵢ/nᵢ bookkeeping as
    * [[kaplanMeier]], plus the standard variance estimate
    * σ²(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ². Where KM multiplies survival factors,
    * NA sums hazard increments — one more in-row ascending-time SUM
    * fold on the identical [[survivalCounts]] seam (seed 0.0 is safe:
    * 0.0 + x == x, so a stepwise mirror recursion matches
    * bit-for-bit). Same thinning shape: subjects reduce to the
    * distinct-time grid in ONE pass; the folds run on ≤ maxTimes rows
    * per group, never on subjects.
    *
    * Output: groups... + (t, n_risk, n_events, n_censored, cum_hazard,
    * var_hazard), one row per distinct observed time. */
  def nelsonAalen(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column,
      maxTimes: Int = 1000): DataFrame =
    nelsonAalenFromCounts(
      survivalCounts(df, groupCols, durationCol, eventCol),
      groupCols, maxTimes)

  /** Finalize a (possibly merged) [[survivalCounts]] table into the
    * [[nelsonAalen]] schema — the streaming-readout face. NA and KM
    * share ONE partial: the same stored count deltas serve both
    * readouts with no extra state. */
  def nelsonAalenFromCounts(counts: DataFrame, groupCols: Seq[String],
      maxTimes: Int = 1000): DataFrame = {
    val g = groupCols.map(col)
    val grouped = survivalGrid(counts, g, "nelsonAalen", maxTimes)
    val s = col("__s")
    val rows = transform(sequence(lit(1), size(s)), i => {
      // running (consumed, hazard, variance) over times 1..i — the
      // accumulator carries at-risk bookkeeping so nⱼ is exact
      val fin = aggregate(slice(s, lit(1), i),
        struct(lit(0L).as("u"), lit(0.0).as("h"), lit(0.0).as("v")),
        (acc, x) => {
          val n = col("__n") - acc.getField("u")
          val nD = n.cast("double")
          val dD = x.getField("d").cast("double")
          struct(
            (acc.getField("u") + x.getField("d") + x.getField("c"))
              .as("u"),
            (acc.getField("h") + dD / nD).as("h"),
            (acc.getField("v") + dD / (nD * nD)).as("v"))
        })
      val prior = aggregate(slice(s, lit(1), i - 1), lit(0L),
        (a, x) => a + x.getField("d") + x.getField("c"))
      struct(element_at(s, i).getField("t").as("t"),
        (col("__n") - prior).as("n_risk"),
        element_at(s, i).getField("d").as("n_events"),
        element_at(s, i).getField("c").as("n_censored"),
        fin.getField("h").as("cum_hazard"),
        fin.getField("v").as("var_hazard"))
    })
    grouped
      .withColumn("__e", explode(rows))
      .select(g ++ Seq(col("__e").getField("t").as("t"),
        col("__e").getField("n_risk").as("n_risk"),
        col("__e").getField("n_events").as("n_events"),
        col("__e").getField("n_censored").as("n_censored"),
        col("__e").getField("cum_hazard").as("cum_hazard"),
        col("__e").getField("var_hazard").as("var_hazard")): _*)
  }

  /** Restricted mean survival time per group (Royston & Parmar, BMC
    * Med Res Methodol 2013 for the modern case; the estimand is
    * classical): RMST(τ) = ∫₀^τ S(t)dt — "average event-free time over
    * the first τ", the clinically-readable summary that stays valid
    * when proportional hazards fail. For the KM step function the
    * integral is the exact rectangle sum Σ S(tᵢ₋₁)·(min(tᵢ,τ) −
    * min(tᵢ₋₁,τ)) plus the S(t_last)·(τ − t_last) tail — ONE more
    * accumulator inside the same ascending-time fold on the same
    * [[survivalCounts]] seam (fourth readout of that stored partial).
    * All ops are +,·,/ — hashes unrounded.
    *
    * Output: groups... + (n_subjects, tau, rmst). */
  def rmst(df: DataFrame, groupCols: Seq[String], durationCol: Column,
      eventCol: Column, tau: Double, maxTimes: Int = 1000): DataFrame =
    rmstFromCounts(survivalCounts(df, groupCols, durationCol, eventCol),
      groupCols, tau, maxTimes)

  /** Finalize a (possibly merged) [[survivalCounts]] table into the
    * [[rmst]] schema — the streaming-readout face. */
  def rmstFromCounts(counts: DataFrame, groupCols: Seq[String],
      tau: Double, maxTimes: Int = 1000): DataFrame = {
    require(tau > 0.0, s"tau must be positive, got $tau")
    val g = groupCols.map(col)
    val grouped = survivalGrid(counts, g, "rmst", maxTimes)
    val s = col("__s")
    val fin = aggregate(s,
      struct(lit(0L).as("u"), lit(1.0).as("p"), lit(0.0).as("pt"),
        lit(0.0).as("area")),
      (acc, x) => {
        val n = col("__n") - acc.getField("u")
        val t = x.getField("t").cast("double")
        val seg = least(t, lit(tau)) - least(acc.getField("pt"), lit(tau))
        struct(
          (acc.getField("u") + x.getField("d") + x.getField("c"))
            .as("u"),
          (acc.getField("p") * (lit(1.0) -
            x.getField("d").cast("double") / n.cast("double"))).as("p"),
          t.as("pt"),
          (acc.getField("area") + acc.getField("p") * seg).as("area"))
      })
    grouped
      .withColumn("__f", fin)
      .select(g ++ Seq(col("__n").as("n_subjects"),
        lit(tau).as("tau"),
        (col("__f").getField("area") + col("__f").getField("p") *
          (lit(tau) - least(col("__f").getField("pt"), lit(tau))))
          .as("rmst")): _*)
  }

  /** [[rmst]] plus its Greenwood-type variance (the survRM2
    * convention): Var(RMST) = Σ_{tᵢ ≤ τ, 0 < dᵢ < nᵢ} Aᵢ²·dᵢ/(nᵢ(nᵢ−dᵢ))
    * with Aᵢ = ∫_{tᵢ}^τ S(u)du — TWO in-row folds over the same
    * bounded time grid (the first computes the total integral, the
    * second re-walks it accumulating the variance with
    * A = total − area-so-far). Output: groups... + (n_subjects, tau,
    * rmst, var_rmst). */
  def rmstWithVarFromCounts(counts: DataFrame, groupCols: Seq[String],
      tau: Double, maxTimes: Int = 1000): DataFrame = {
    require(tau > 0.0, s"tau must be positive, got $tau")
    val g = groupCols.map(col)
    val grouped = survivalGrid(counts, g, "rmstWithVar", maxTimes)
    val s = col("__s")
    def walk(acc: Column, x: Column): (Column, Column, Column, Column) = {
      val n = col("__n") - acc.getField("u")
      val t = x.getField("t").cast("double")
      val seg = least(t, lit(tau)) - least(acc.getField("pt"), lit(tau))
      val area2 = acc.getField("area") + acc.getField("p") * seg
      val p2 = acc.getField("p") * (lit(1.0) -
        x.getField("d").cast("double") / n.cast("double"))
      val u2 = acc.getField("u") + x.getField("d") + x.getField("c")
      (u2, p2, t, area2)
    }
    val fin1 = aggregate(s,
      struct(lit(0L).as("u"), lit(1.0).as("p"), lit(0.0).as("pt"),
        lit(0.0).as("area")),
      (acc, x) => {
        val (u2, p2, t, area2) = walk(acc, x)
        struct(u2.as("u"), p2.as("p"), t.as("pt"), area2.as("area"))
      })
    val withTotal = grouped.withColumn("__total",
      fin1.getField("area") + fin1.getField("p") *
        (lit(tau) - least(fin1.getField("pt"), lit(tau))))
    val fin2 = aggregate(s,
      struct(lit(0L).as("u"), lit(1.0).as("p"), lit(0.0).as("pt"),
        lit(0.0).as("area"), lit(0.0).as("v")),
      (acc, x) => {
        val n = col("__n") - acc.getField("u")
        val d = x.getField("d")
        val (u2, p2, t, area2) = walk(acc, x)
        val a = col("__total") - area2
        val informative = d > 0L && d < n &&
          x.getField("t").cast("double") <= lit(tau)
        val contrib = a * a * (d.cast("double") /
          (n.cast("double") * (n - d).cast("double")))
        struct(u2.as("u"), p2.as("p"), t.as("pt"), area2.as("area"),
          (acc.getField("v") +
            when(informative, contrib).otherwise(lit(0.0))).as("v"))
      })
    withTotal
      .withColumn("__f", fin2)
      .select(g ++ Seq(col("__n").as("n_subjects"),
        lit(tau).as("tau"), col("__total").as("rmst"),
        col("__f").getField("v").as("var_rmst")): _*)
  }

  /** Two-cohort RMST difference test (Royston & Parmar 2013 / the
    * survRM2 readout) — the modern alternative to the log-rank family
    * when proportional hazards fail: Δ = RMST₁(τ) − RMST₂(τ) with
    * z = Δ/√(Var₁+Var₂). "How many extra event-free days does cohort
    * 1 get in the first τ" is directly actionable where a log-rank χ²
    * is not. Same [[survivalCounts]] machinery per cohort; all ops
    * +,·,/,√ — hashes unrounded.
    *
    * Output per group: (n1, n2, rmst1, rmst2, diff, se, z); z null
    * when the pooled variance is not positive. */
  def rmstDiff(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column, cohort1: Column,
      tau: Double, maxTimes: Int = 1000): DataFrame = {
    val c1 = cohort1.cast("boolean")
    val withCoh = df.filter(c1.isNotNull).withColumn("__coh", c1)
    val perCoh = rmstWithVarFromCounts(
      survivalCounts(withCoh, groupCols :+ "__coh", durationCol,
        eventCol),
      groupCols :+ "__coh", tau, maxTimes)
    val g = groupCols.map(col)
    val coh = col("__coh")
    val agg = perCoh.groupBy(g: _*)
      .agg(max(when(coh, col("n_subjects"))).as("n1"),
        max(when(!coh, col("n_subjects"))).as("n2"),
        max(when(coh, col("rmst"))).as("rmst1"),
        max(when(!coh, col("rmst"))).as("rmst2"),
        max(when(coh, col("var_rmst"))).as("__v1"),
        max(when(!coh, col("var_rmst"))).as("__v2"))
    val se = sqrt(col("__v1") + col("__v2"))
    agg
      .withColumn("diff", col("rmst1") - col("rmst2"))
      .withColumn("se", se)
      .withColumn("z", when(se > 0.0,
        (col("rmst1") - col("rmst2")) / se))
      .drop("__v1", "__v2")
  }

  /** Kaplan–Meier with the Greenwood variance and a linear 95% CI —
    * the error-bar readout of the survival curve (Greenwood 1926):
    *
    *   Var(S(t)) = S(t)² · Σ_{tᵢ ≤ t} dᵢ / (nᵢ·(nᵢ − dᵢ))
    *
    * One more running SUM in the same ascending-time fold the KM
    * product runs in, on the same [[survivalCounts]] seam. The CI is
    * the plain linear S ± 1.96·√Var clipped to [0, 1] — all ops are
    * +,·,/,√ (no log-log transform, no libm), so every column hashes
    * unrounded. At a time where dᵢ = nᵢ (everyone remaining fails) the
    * Greenwood term is skipped: S is 0 from that time on and the
    * variance is pinned 0 rather than ∞.
    *
    * Output: groups... + (t, n_risk, n_events, n_censored, survival,
    * var_s, ci_lo, ci_hi). */
  def kaplanMeierGreenwood(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column,
      maxTimes: Int = 1000): DataFrame =
    kaplanMeierGreenwoodFromCounts(
      survivalCounts(df, groupCols, durationCol, eventCol),
      groupCols, maxTimes)

  /** Finalize a (possibly merged) [[survivalCounts]] table into the
    * [[kaplanMeierGreenwood]] schema — the third readout sharing the
    * KM/NA stored partial. */
  def kaplanMeierGreenwoodFromCounts(counts: DataFrame,
      groupCols: Seq[String], maxTimes: Int = 1000): DataFrame = {
    val g = groupCols.map(col)
    val grouped = survivalGrid(counts, g, "kaplanMeierGreenwood", maxTimes)
    val s = col("__s")
    val rows = transform(sequence(lit(1), size(s)), i => {
      val fin = aggregate(slice(s, lit(1), i),
        struct(lit(0L).as("u"), lit(1.0).as("p"), lit(0.0).as("gw")),
        (acc, x) => {
          val n = col("__n") - acc.getField("u")
          val nD = n.cast("double")
          val d = x.getField("d")
          val dD = d.cast("double")
          struct(
            (acc.getField("u") + d + x.getField("c")).as("u"),
            (acc.getField("p") * (lit(1.0) - dD / nD)).as("p"),
            (acc.getField("gw") + when(d < n,
              dD / (nD * (n - d).cast("double"))).otherwise(lit(0.0)))
              .as("gw"))
        })
      val prior = aggregate(slice(s, lit(1), i - 1), lit(0L),
        (a, x) => a + x.getField("d") + x.getField("c"))
      val surv = fin.getField("p")
      val varS = surv * surv * fin.getField("gw")
      val half = lit(1.96) * sqrt(varS)
      struct(element_at(s, i).getField("t").as("t"),
        (col("__n") - prior).as("n_risk"),
        element_at(s, i).getField("d").as("n_events"),
        element_at(s, i).getField("c").as("n_censored"),
        surv.as("survival"),
        varS.as("var_s"),
        greatest(lit(0.0), surv - half).as("ci_lo"),
        least(lit(1.0), surv + half).as("ci_hi"))
    })
    grouped
      .withColumn("__e", explode(rows))
      .select(g ++ Seq("t", "n_risk", "n_events", "n_censored",
        "survival", "var_s", "ci_lo", "ci_hi")
        .map(f => col("__e").getField(f).as(f)): _*)
  }

  /** Aalen–Johansen cumulative incidence per group (Aalen & Johansen
    * 1978) — competing risks done right: when a subject can fail from
    * one of K mutually exclusive causes (churned-to-competitor vs
    * churned-dormant, hardware vs software failure), 1 − KM per cause
    * OVERSTATES every cause's incidence because it treats competing
    * failures as censoring. The AJ estimator attributes risk exactly:
    *
    *   CIF_k(t) = Σ_{tᵢ ≤ t} S(tᵢ−) · d_{k,i} / nᵢ
    *
    * with S the ALL-CAUSE Kaplan–Meier and d_{k,i} the cause-k events
    * at tᵢ; Σ_k CIF_k(t) + S(t) = 1 at every event time.
    *
    * Same thinning shape as [[kaplanMeier]]: one data-sized pass to
    * exact per-(group, t) counts (a BIGINT per cause + censored), then
    * bounded in-row folds. The fold updates each CIF with the PRE-time
    * survival before stepping the product, so a stepwise mirror
    * recursion replays bit-for-bit (cif += p·(d_k/n), then
    * p *= 1 − d_tot/n — all +,·,/, hashes unrounded).
    *
    * Output (long): groups... + (t, n_risk, survival, cause ∈ 1..K,
    * n_events, cif) — K rows per distinct time; `survival` is the
    * all-cause S(t) AFTER the step. Cause 0 in `causeCol` means
    * right-censored. */
  def aalenJohansen(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, causeCol: Column, nCauses: Int,
      maxTimes: Int = 1000): DataFrame =
    aalenJohansenFromCounts(
      causeSurvivalCounts(df, groupCols, durationCol, causeCol, nCauses),
      groupCols, nCauses, maxTimes)

  /** The PARTIAL behind [[aalenJohansen]]: exact per-(group, t) counts
    * with a BIGINT per cause (array position k−1 = cause k) plus the
    * censored count — all associative sums over CLOSED subject
    * observations (same streaming contract as [[survivalCounts]]: an
    * open subject's duration/cause would mutate). A cause outside
    * 0..nCauses fails fast rather than silently dropping risk mass. */
  def causeSurvivalCounts(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, causeCol: Column, nCauses: Int): DataFrame = {
    require(nCauses >= 1 && nCauses <= 20,
      s"causeSurvivalCounts needs 1 <= nCauses <= 20, got $nCauses")
    val cs = causeCol.cast("int")
    df.filter(durationCol.isNotNull && cs.isNotNull)
      .filter(assert_true(cs >= 0 && cs <= nCauses,
        lit(s"causeSurvivalCounts: cause outside 0..$nCauses")).isNull)
      .groupBy(groupCols.map(col) :+ durationCol.cast("double").as("t"): _*)
      .agg(array((1 to nCauses).map(k =>
          sum(when(cs === k, 1L).otherwise(0L))): _*).as("ds"),
        sum(when(cs === 0, 1L).otherwise(0L)).as("c"))
  }

  /** Merge [[causeSurvivalCounts]] tables: element-wise BIGINT re-sum
    * per (group, t). */
  def mergeCauseSurvivalCounts(partials: Seq[DataFrame],
      groupNames: Seq[String], nCauses: Int): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "t").map(col): _*)
      .agg(array((1 to nCauses).map(k =>
          sum(element_at(col("ds"), k))): _*).as("ds"),
        sum(col("c")).as("c"))

  /** Finalize a (possibly merged) [[causeSurvivalCounts]] table into
    * the [[aalenJohansen]] schema — the streaming-readout face. */
  def aalenJohansenFromCounts(counts: DataFrame, groupCols: Seq[String],
      nCauses: Int, maxTimes: Int = 1000): DataFrame = {
    require(maxTimes >= 1 && maxTimes <= 10000,
      s"aalenJohansen needs 1 <= maxTimes <= 10000, got $maxTimes")
    val g = groupCols.map(col)
    val dTotOf = (x: Column) =>
      aggregate(x.getField("ds"), lit(0L), (a, d) => a + d)
    val grouped = counts.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("t"), col("ds"), col("c"))))
        .as("__s"),
        sum(aggregate(col("ds"), lit(0L), (a, d) => a + d) + col("c"))
          .as("__n"))
      .filter(assert_true(size(col("__s")) <= maxTimes,
        lit(s"aalenJohansen: a group exceeds maxTimes=$maxTimes distinct " +
          "times — bin durations coarser first")).isNull)
    val s = col("__s")
    val rows = transform(sequence(lit(1), size(s)), i => {
      // running (consumed, survival, cifs) over times 1..i — each CIF
      // takes its increment at the PRE-time survival, then the product
      // steps, so the fold is the textbook AJ recursion verbatim
      val fin = aggregate(slice(s, lit(1), i),
        struct(lit(0L).as("u"), lit(1.0).as("p"),
          array_repeat(lit(0.0), nCauses).as("cifs")),
        (acc, x) => {
          val n = col("__n") - acc.getField("u")
          val dTot = dTotOf(x)
          val cifs2 = transform(sequence(lit(1), lit(nCauses)), k =>
            element_at(acc.getField("cifs"), k) + acc.getField("p") *
              (element_at(x.getField("ds"), k).cast("double") /
                n.cast("double")))
          struct(
            (acc.getField("u") + dTot + x.getField("c")).as("u"),
            (acc.getField("p") * (lit(1.0) -
              dTot.cast("double") / n.cast("double"))).as("p"),
            cifs2.as("cifs"))
        })
      val prior = aggregate(slice(s, lit(1), i - 1), lit(0L),
        (a, x) => a + dTotOf(x) + x.getField("c"))
      struct(element_at(s, i).getField("t").as("t"),
        (col("__n") - prior).as("n_risk"),
        element_at(s, i).getField("ds").as("ds"),
        fin.getField("p").as("survival"),
        fin.getField("cifs").as("cifs"))
    })
    grouped
      .withColumn("__e", explode(rows))
      .select(col("*"),
        posexplode(col("__e").getField("cifs")).as(Seq("__pos", "cif")))
      .withColumn("cause", (col("__pos") + 1).cast("int"))
      .select(g ++ Seq(col("__e").getField("t").as("t"),
        col("__e").getField("n_risk").as("n_risk"),
        col("__e").getField("survival").as("survival"),
        col("cause"),
        element_at(col("__e").getField("ds"), col("cause"))
          .as("n_events"),
        col("cif")): _*)
  }

  /** Gehan–Breslow (generalized Wilcoxon) weighted log-rank per group
    * (Gehan, Biometrika 1965; Breslow 1970) — the early-difference-
    * sensitive companion of [[logRank]]: each time's O−E contribution
    * is weighted by the at-risk total wᵢ = nᵢ (so early times, where
    * nᵢ is large, dominate — the right test when hazards cross late),
    * with variance Σ wᵢ²·Vᵢ. One extra n-factor inside the identical
    * [[cohortSurvivalCounts]] O−E/V fold — same seam, same one
    * data-sized aggregation, same closed-subject streaming contract.
    *
    * Float contract: the weighted contributions are wD·(d1 − d·n1/n)
    * and wD·wD·V with the INNER expressions exactly as [[logRank]]
    * forms them, so a stepwise mirror recursion matches bit-for-bit.
    *
    * Output per group: (n1, n2, o1, oe, v, chi2, z); chi2/z null when
    * ΣV = 0. `oe` is the WEIGHTED Σ w(O−E) — unlike plain log-rank it
    * is not o1 − e1 for any unweighted e1, so the weighted sum is
    * reported directly. */
  def gehanLogRank(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column, cohort1: Column,
      maxTimes: Int = 1000): DataFrame =
    gehanLogRankFromCounts(
      cohortSurvivalCounts(df, groupCols, durationCol, eventCol, cohort1),
      groupCols, maxTimes)

  /** Finalize a (possibly merged) [[cohortSurvivalCounts]] table into
    * the [[gehanLogRank]] schema — the streaming-readout face; shares
    * its stored partial with [[logRankFromCounts]]. */
  def gehanLogRankFromCounts(counts: DataFrame, groupCols: Seq[String],
      maxTimes: Int = 1000): DataFrame = {
    weightedLogRankFromCounts(counts, groupCols, maxTimes, "gehanLogRank",
      nD => nD) // the Gehan weight: at-risk total at this time
  }

  /** The log-rank family's shared gather and O−E/V fold over a
    * [[cohortSurvivalCounts]] table: each time's O−E contribution is
    * weighted by wᵢ = `weight`(nᵢ) (nᵢ the at-risk total, as a double)
    * and its variance contribution by wᵢ², around the inner expressions
    * exactly as [[logRank]] forms them. `name` is the readout named in
    * the guards' messages. Output per group: (n1, n2, o1, oe, v, chi2,
    * z) with `oe` the weighted Σ w(O−E); chi2/z null when ΣV = 0. */
  private def weightedLogRankFromCounts(counts: DataFrame,
      groupCols: Seq[String], maxTimes: Int, name: String,
      weight: Column => Column): DataFrame = {
    require(maxTimes >= 1 && maxTimes <= 10000,
      s"$name needs 1 <= maxTimes <= 10000, got $maxTimes")
    val g = groupCols.map(col)
    val grouped = counts.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("t"), col("d1"), col("x1"),
        col("d2"), col("x2")))).as("__s"),
        sum(col("d1") + col("x1")).as("__n1"),
        sum(col("d2") + col("x2")).as("__n2"),
        sum(col("d1")).as("o1"))
      .filter(assert_true(size(col("__s")) <= maxTimes,
        lit(s"$name: a group exceeds maxTimes=$maxTimes distinct " +
          "times — bin durations coarser first")).isNull)
    val fin = aggregate(col("__s"),
      struct(lit(0L).as("u1"), lit(0L).as("u2"),
        lit(0.0).as("oe"), lit(0.0).as("v")),
      (acc, x) => {
        val n1 = col("__n1") - acc.getField("u1")
        val n2 = col("__n2") - acc.getField("u2")
        val n = n1 + n2
        val d = x.getField("d1") + x.getField("d2")
        val nD = n.cast("double")
        val dD = d.cast("double")
        val wD = weight(nD)
        val contribOe = wD * (x.getField("d1").cast("double") -
          dD * n1.cast("double") / nD)
        val contribV = wD * wD * (dD * (n1.cast("double") / nD) *
          (n2.cast("double") / nD) *
          ((n - d).cast("double") / (n - 1L).cast("double")))
        val informative = n > 1L && d > 0L
        struct(
          (acc.getField("u1") + x.getField("d1") + x.getField("x1"))
            .as("u1"),
          (acc.getField("u2") + x.getField("d2") + x.getField("x2"))
            .as("u2"),
          (acc.getField("oe") +
            when(informative, contribOe).otherwise(lit(0.0))).as("oe"),
          (acc.getField("v") +
            when(informative, contribV).otherwise(lit(0.0))).as("v"))
      })
    grouped
      .withColumn("__f", fin)
      .select(g ++ Seq(col("__n1").as("n1"), col("__n2").as("n2"),
        col("o1"),
        col("__f").getField("oe").as("oe"),
        col("__f").getField("v").as("v"),
        when(col("__f").getField("v") > 0.0,
          col("__f").getField("oe") * col("__f").getField("oe") /
            col("__f").getField("v")).as("chi2"),
        when(col("__f").getField("v") > 0.0,
          col("__f").getField("oe") /
            sqrt(col("__f").getField("v"))).as("z")): _*)
  }

  /** Tarone–Ware weighted log-rank per group (Tarone & Ware,
    * Biometrika 1977) — the middle member of the weight family: wᵢ =
    * √nᵢ sits between plain log-rank (w = 1, late-sensitive) and
    * Gehan (w = n, early-sensitive); the usual robustness compromise
    * when the hazard-ordering is unknown. Same
    * [[cohortSurvivalCounts]] seam and fold; IEEE √ is correctly
    * rounded, so the float contract stays engine-portable (the V
    * weight is written wD·wD — the product of the rounded √, not n).
    *
    * Output per group: (n1, n2, o1, oe, v, chi2, z) — the
    * [[gehanLogRank]] schema. */
  def taroneWareLogRank(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column, cohort1: Column,
      maxTimes: Int = 1000): DataFrame =
    taroneWareLogRankFromCounts(
      cohortSurvivalCounts(df, groupCols, durationCol, eventCol, cohort1),
      groupCols, maxTimes)

  /** Finalize a (possibly merged) [[cohortSurvivalCounts]] table into
    * the [[taroneWareLogRank]] schema — the third readout sharing the
    * log-rank/Gehan stored partial. */
  def taroneWareLogRankFromCounts(counts: DataFrame,
      groupCols: Seq[String], maxTimes: Int = 1000): DataFrame = {
    weightedLogRankFromCounts(counts, groupCols, maxTimes,
      "taroneWareLogRank", sqrt) // the Tarone–Ware weight
  }

  /** Two-proportion uplift test per group — the conversion-rate A/B
    * readout: treated vs control success counts, the rate difference,
    * and the pooled two-proportion z
    *
    *   z = (p_t − p_c) / √( p̂(1−p̂)·(1/n_t + 1/n_c) ),  p̂ pooled
    *
    * All counts exact BIGINTs from ONE aggregation; every emitted value
    * is a fixed float expression over their casts (IEEE sqrt is
    * correctly rounded), so everything hashes unrounded. Rates/z are
    * null when an arm is empty or the pooled rate is degenerate (0 or
    * 1 — no variance). Output: groups... + (n_t, x_t, n_c, x_c,
    * rate_t, rate_c, uplift, z). */
  def proportionUplift(df: DataFrame, groupCols: Seq[Column],
      treated: Column, outcome: Column): DataFrame =
    proportionUpliftFromCounts(armCounts(df, groupCols, treated, outcome))

  /** The PARTIAL behind [[proportionUplift]] AND [[msprt]]: exact
    * per-(group, arm) trial/success counts — four associative BIGINT
    * sums, so batch-sliced partials re-summed per group are exactly
    * the one-shot table, and BOTH readouts finalize from the same
    * stored state. Unlike the per-unit seams, rows here are
    * independent trials — no closed-subject constraint, any slicing
    * works. */
  def armCounts(df: DataFrame, groupCols: Seq[Column], treated: Column,
      outcome: Column): DataFrame = {
    val t = treated.cast("boolean")
    val o = outcome.cast("boolean")
    df.filter(t.isNotNull && o.isNotNull)
      .groupBy(groupCols: _*)
      .agg(sum(when(t, 1L).otherwise(0L)).as("n_t"),
        sum(when(t && o, 1L).otherwise(0L)).as("x_t"),
        sum(when(!t, 1L).otherwise(0L)).as("n_c"),
        sum(when(!t && o, 1L).otherwise(0L)).as("x_c"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test per group (Cochran
    * 1954; Mantel & Haenszel 1959) — "is the treatment associated with
    * the outcome CONTROLLING for a confounder": pooling strata naively
    * invites Simpson's paradox; CMH sums per-stratum evidence instead.
    * With per-stratum table (a=x_t, b, c, d), n = n_t + n_c, m1 = a+c:
    *
    *   E_i = n_t·m1/n,  V_i = n_t·n_c·m1·m2 / (n²(n−1))
    *   χ² = (Σa − ΣE)² / ΣV   (no continuity correction)
    *   OR_MH = Σ(a·d/n) / Σ(b·c/n)   (the pooled odds ratio)
    *
    * THIRD readout of the [[armCounts]] stored partial, keyed by
    * (group, stratum). The cross-stratum float sums fold in FIXED
    * ascending-stratum order (sort_array + aggregate, 0.0 seed — the
    * order-pinning convention), each per-stratum term a fixed-order
    * +,·,/ expression over exact BIGINTs — every column hashes
    * unrounded. Strata with n = 1 contribute zero variance; χ² null
    * when ΣV = 0; OR null when the denominator is 0.
    *
    * Output: groups... + (n_strata, a_sum, e_sum, v_sum, chi2,
    * or_mh). */
  def cmhTest(df: DataFrame, groupCols: Seq[String], stratumCol: Column,
      treated: Column, outcome: Column,
      maxStrata: Int = 1000): DataFrame =
    cmhFromCounts(
      // null strata drop (matching stratifiedLogRank) — a null is an
      // unknown stratum, not its own 2×2 table
      armCounts(df.filter(stratumCol.isNotNull),
        groupCols.map(col) :+ stratumCol.as("__stratum"),
        treated, outcome),
      groupCols, "__stratum", maxStrata)

  /** Finalize a (possibly merged) per-(group, stratum) [[armCounts]]
    * table into the [[cmhTest]] schema — the streaming-readout face. */
  def cmhFromCounts(counts: DataFrame, groupCols: Seq[String],
      stratumName: String, maxStrata: Int = 1000): DataFrame = {
    require(maxStrata >= 1 && maxStrata <= 10000,
      s"cmhTest needs 1 <= maxStrata <= 10000, got $maxStrata")
    val g = groupCols.map(col)
    val nT = col("n_t"); val nC = col("n_c")
    val a = col("x_t"); val b = nT - col("x_t")
    val c = col("x_c"); val d = nC - col("x_c")
    val n = nT + nC
    val m1 = a + c; val m2 = n - m1
    val terms = counts.select(g ++ Seq(col(stratumName).as("__st"),
      a.as("__a"),
      ((nT * m1).cast("double") / n.cast("double")).as("__e"),
      when(n > 1L,
          (nT.cast("double") * nC.cast("double") * m1.cast("double") *
            m2.cast("double")) /
            (n.cast("double") * n.cast("double") *
              (n - 1L).cast("double")))
        .otherwise(lit(0.0)).as("__v"),
      ((a.cast("double") * d.cast("double")) / n.cast("double"))
        .as("__orn"),
      ((b.cast("double") * c.cast("double")) / n.cast("double"))
        .as("__ord")): _*)
    val grouped = terms.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("__st"), col("__e"),
          col("__v"), col("__orn"), col("__ord")))).as("__s"),
        count(lit(1)).as("n_strata"), sum(col("__a")).as("a_sum"))
      .filter(assert_true(size(col("__s")) <= maxStrata,
        lit(s"cmhTest: a group exceeds maxStrata=$maxStrata — coarsen " +
          "the stratum key")).isNull)
    def fold(f: String): Column = aggregate(col("__s"), lit(0.0),
      (acc, x) => acc + x.getField(f))
    val eS = fold("__e"); val vS = fold("__v")
    val orN = fold("__orn"); val orD = fold("__ord")
    grouped
      .withColumn("e_sum", eS)
      .withColumn("v_sum", vS)
      .withColumn("chi2", when(col("v_sum") > 0.0,
        (col("a_sum").cast("double") - col("e_sum")) *
          (col("a_sum").cast("double") - col("e_sum")) / col("v_sum")))
      .withColumn("or_mh", when(orD > 0.0, orN / orD))
      .select(g ++ Seq(col("n_strata"), col("a_sum"), col("e_sum"),
        col("v_sum"), col("chi2"), col("or_mh")): _*)
  }

  /** Propensity-score stratified ATE (Rosenbaum & Rubin 1983/1984) —
    * the composed causal-inference pipeline: when treatment was NOT
    * randomized, fit P(treated | covariates) with [[logisticFit]],
    * slice units into propensity strata (NTILE over the score with a
    * unique-id tie-break — the [[qiniCurve]] determinism), and average
    * the per-stratum treated-vs-control outcome differences weighted
    * by stratum size. Five strata remove ~90% of covariate bias
    * (Cochran 1968).
    *
    *   ATE = Σ_s (n_s / N_valid) · (ȳ_t,s − ȳ_c,s)
    *
    * over strata with BOTH arms present (a one-armed stratum has no
    * within-stratum contrast; it is excluded and the weights
    * renormalize over the valid strata — count the `diff IS NULL` rows
    * before trusting the estimate).
    *
    * Portability: the fit is the [[logisticFit]] chained-quantized
    * Newton (weights re-embedded as literals — ONE model across all
    * groups); scoring is a fixed expression; per-stratum outcome
    * masses are exact quantized BIGINTs (floor(y·outcomeQuant),
    * |y| ≤ maxAbsOutcome fail-fast); the cross-stratum fold runs in
    * ascending-stratum order — +,·,/ everywhere except the sigmoid's
    * exp (the a_logistic_fit convention). The NTILE window PARTITIONS
    * on `groupCols` (per-segment strata and per-segment ATE) — pass a
    * real segmentation so the exact-ranking exchange distributes;
    * empty `groupCols` degrades to one global ordering task and is
    * only for small scored frames.
    *
    * Output: one row per (group, stratum) — groups... + (stratum, n,
    * n_t, n_c, mean_t, mean_c, diff, ate) with the group's `ate`
    * repeated on its rows (null diff ⇒ the stratum is excluded from
    * it). */
  def propensityStratifiedAte(df: DataFrame, groupCols: Seq[String],
      covariates: Seq[Column], treated: Column, outcome: Column,
      idCol: Column, nStrata: Int = 5, iters: Int = 3,
      quantScale: Double = 1e6, outcomeQuant: Double = 1e6,
      maxAbsOutcome: Double = 1000.0): DataFrame = {
    require(nStrata >= 2 && nStrata <= 100,
      s"nStrata in 2..100, got $nStrata")
    val g = groupCols.map(col)
    val t = treated.cast("boolean")
    val y = outcome.cast("double")
    val base = df.filter(t.isNotNull && y.isNotNull && idCol.isNotNull &&
        (g :+ lit(true)).map(_.isNotNull).reduce(_ && _) &&
        covariates.map(_.isNotNull).reduce(_ && _))
      .filter(assert_true(abs(y) <= maxAbsOutcome,
        lit(s"propensityStratifiedAte: |outcome| exceeds " +
          s"$maxAbsOutcome — rescale or raise maxAbsOutcome")).isNull)
    val fit = logisticFit(base, covariates, t, iters,
      quantScale = quantScale)
    val wRow = fit.head()
    val w = (0 to covariates.size).map(j => wRow.getAs[Double](s"w$j"))
    val p = logisticScore(covariates, w)
    val W = org.apache.spark.sql.expressions.Window
    val win =
      if (groupCols.isEmpty) W.orderBy(col("__p"), idCol)
      else W.partitionBy(g: _*).orderBy(col("__p"), idCol)
    val strata = base
      .withColumn("__p", p)
      .withColumn("__s", ntile(nStrata).over(win))
      .groupBy(g :+ col("__s"): _*)
      .agg(sum(when(t, 1L).otherwise(0L)).as("n_t"),
        sum(when(!t, 1L).otherwise(0L)).as("n_c"),
        sum(when(t, floor(y * lit(outcomeQuant)).cast("long"))
          .otherwise(0L)).as("__qt"),
        sum(when(!t, floor(y * lit(outcomeQuant)).cast("long"))
          .otherwise(0L)).as("__qc"))
    val grouped = strata.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col("__s"), col("n_t"), col("n_c"), col("__qt"), col("__qc"))))
        .as("__cs"))
    val valid = (x: Column) => x.getField("n_t") > 0L &&
      x.getField("n_c") > 0L
    val diffOf = (x: Column) =>
      (x.getField("__qt").cast("double") / lit(outcomeQuant)) /
        x.getField("n_t").cast("double") -
        (x.getField("__qc").cast("double") / lit(outcomeQuant)) /
          x.getField("n_c").cast("double")
    val nValid = aggregate(col("__cs"), lit(0L), (acc, x) =>
      acc + when(valid(x), x.getField("n_t") + x.getField("n_c"))
        .otherwise(lit(0L)))
    val ate = aggregate(col("__cs"), lit(0.0), (acc, x) =>
      acc + when(valid(x),
          ((x.getField("n_t") + x.getField("n_c")).cast("double") /
            col("__nv").cast("double")) * diffOf(x))
        .otherwise(lit(0.0)))
    grouped
      .withColumn("__nv", nValid)
      .withColumn("ate", when(col("__nv") > 0L, ate))
      .withColumn("__e", explode(col("__cs")))
      .select(g ++ Seq(
        col("__e").getField("__s").as("stratum"),
        (col("__e").getField("n_t") + col("__e").getField("n_c"))
          .as("n"),
        col("__e").getField("n_t").as("n_t"),
        col("__e").getField("n_c").as("n_c"),
        when(col("__e").getField("n_t") > 0L,
          (col("__e").getField("__qt").cast("double") /
            lit(outcomeQuant)) /
            col("__e").getField("n_t").cast("double")).as("mean_t"),
        when(col("__e").getField("n_c") > 0L,
          (col("__e").getField("__qc").cast("double") /
            lit(outcomeQuant)) /
            col("__e").getField("n_c").cast("double")).as("mean_c"),
        when(valid(col("__e")), diffOf(col("__e"))).as("diff"),
        col("ate")): _*)
  }

  /** Inverse-propensity-weighted ATE, Hájek estimator (Horvitz &
    * Thompson 1952; Hájek 1971) — [[propensityStratifiedAte]]'s
    * smooth sibling: instead of coarse strata, each unit is weighted
    * by 1/e (treated) or 1/(1−e) (control), with the self-normalizing
    * Hájek ratio that tolerates imperfect propensities:
    *
    *   ATE = Σ_t y/e / Σ_t 1/e  −  Σ_c y/(1−e) / Σ_c 1/(1−e)
    *
    * Propensities clip to [eps, 1−eps] (positivity guard — a unit with
    * e ≈ 0/1 would otherwise dominate the sums). Same [[logisticFit]]
    * chain; the four weighted sums are per-row terms QUANTIZED to
    * exact BIGINTs (floor(term·termQuant), the logisticFit
    * discipline), so they are associative and the tail is four
    * dequantize-divisions and a subtraction — hashes unrounded given
    * the sigmoid's exp (the a_logistic_fit convention).
    *
    * Output: one row — (n, n_t, n_c, mean_t_w, mean_c_w, ate). */
  def ipwAte(df: DataFrame, covariates: Seq[Column], treated: Column,
      outcome: Column, iters: Int = 3, eps: Double = 0.01,
      quantScale: Double = 1e6, termQuant: Double = 1e6,
      maxAbsOutcome: Double = 1000.0): DataFrame = {
    require(eps > 0.0 && eps < 0.5, s"eps in (0, 0.5), got $eps")
    val t = treated.cast("boolean")
    val y = outcome.cast("double")
    val base = df.filter(t.isNotNull && y.isNotNull &&
        covariates.map(_.isNotNull).reduce(_ && _))
      .filter(assert_true(abs(y) <= maxAbsOutcome,
        lit(s"ipwAte: |outcome| exceeds $maxAbsOutcome — rescale or " +
          "raise maxAbsOutcome")).isNull)
    val fit = logisticFit(base, covariates, t, iters,
      quantScale = quantScale)
    val wRow = fit.head()
    val w = (0 to covariates.size).map(j => wRow.getAs[Double](s"w$j"))
    val e = least(greatest(logisticScore(covariates, w), lit(eps)),
      lit(1.0 - eps))
    def q(term: Column): Column =
      floor(term * lit(termQuant)).cast("long")
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(t, 1L).otherwise(0L)).as("n_t"),
      sum(when(!t, 1L).otherwise(0L)).as("n_c"),
      sum(when(t, q(y / e)).otherwise(0L)).as("__yt"),
      sum(when(t, q(lit(1.0) / e)).otherwise(0L)).as("__wt"),
      sum(when(!t, q(y / (lit(1.0) - e))).otherwise(0L)).as("__yc"),
      sum(when(!t, q(lit(1.0) / (lit(1.0) - e))).otherwise(0L))
        .as("__wc"))
    val meanT = when(col("__wt") > 0L,
      col("__yt").cast("double") / col("__wt").cast("double"))
    val meanC = when(col("__wc") > 0L,
      col("__yc").cast("double") / col("__wc").cast("double"))
    agg
      .withColumn("mean_t_w", meanT)
      .withColumn("mean_c_w", meanC)
      .withColumn("ate", col("mean_t_w") - col("mean_c_w"))
      .select(col("n"), col("n_t"), col("n_c"), col("mean_t_w"),
        col("mean_c_w"), col("ate"))
  }

  /** AIPW doubly-robust ATE (Robins, Rotnitzky & Zhao 1994; Bang &
    * Robins 2005) — the estimator that forgives ONE wrong model: an
    * outcome-regression head per arm (m₁, m₀) plus an IPW correction
    * term; the estimate stays consistent if EITHER the propensity OR
    * the outcome model is right:
    *
    *   ATE = mean[ (m₁(x) − m₀(x)) + t·(y − m₁(x))/e
    *               − (1−t)·(y − m₀(x))/(1−e) ]
    *
    * Composition: the [[logisticFit]] quantized-Newton propensity
    * (clipped to [eps, 1−eps]); per-arm CLOSED-FORM OLS heads on
    * (1, covariates) — normal-equation moments as exact quantized
    * BIGINT sums in ONE conditional aggregation pass for BOTH arms,
    * solved by the same fixed Cramer tree as the Newton step
    * ([[solveFixed]], weights re-embedded as literals); the per-row
    * AIPW term quantizes to a BIGINT (the logisticFit discipline) so
    * the closing mean is one exact sum and two divisions. Everything
    * is +,·,/ except the sigmoid's exp (the a_logistic_fit
    * convention).
    *
    * 1–2 covariates (the explicit-Cramer regime the SQL mirror
    * replays). Output: one row — (n, n_t, n_c, ate). */
  def aipwAte(df: DataFrame, covariates: Seq[Column], treated: Column,
      outcome: Column, iters: Int = 3, eps: Double = 0.01,
      quantScale: Double = 1e6, momentQuant: Double = 1e6,
      termQuant: Double = 1e6, maxAbsOutcome: Double = 1000.0): DataFrame = {
    require(covariates.size >= 1 && covariates.size <= 2,
      s"aipwAte supports 1..2 covariates, got ${covariates.size}")
    require(eps > 0.0 && eps < 0.5, s"eps in (0, 0.5), got $eps")
    val t = treated.cast("boolean")
    val y = outcome.cast("double")
    val base = df.filter(t.isNotNull && y.isNotNull &&
        covariates.map(_.isNotNull).reduce(_ && _))
      .filter(assert_true(abs(y) <= maxAbsOutcome,
        lit(s"aipwAte: |outcome| exceeds $maxAbsOutcome — rescale or " +
          "raise maxAbsOutcome")).isNull)
    val fit = logisticFit(base, covariates, t, iters,
      quantScale = quantScale)
    val pRow = fit.head()
    val pw = (0 to covariates.size).map(j => pRow.getAs[Double](s"w$j"))
    val e = least(greatest(logisticScore(covariates, pw), lit(eps)),
      lit(1.0 - eps))
    // both OLS heads from ONE conditional-moment aggregation pass
    val xs = lit(1.0) +: covariates.map(_.cast("double"))
    val k = xs.size
    def q(c: Column): Column = floor(c * lit(momentQuant)).cast("long")
    val momentAggs =
      (for (arm <- Seq(true, false); j <- 0 until k; l <- j until k)
        yield sum(when(if (arm) t else !t, q(xs(j) * xs(l)))
          .otherwise(0L)).as(s"m_${arm}_${j}_$l")) ++
      (for (arm <- Seq(true, false); j <- 0 until k)
        yield sum(when(if (arm) t else !t, q(xs(j) * y))
          .otherwise(0L)).as(s"v_${arm}_$j")) ++ Seq(
        count(lit(1)).as("n"),
        sum(when(t, 1L).otherwise(0L)).as("n_t"))
    val mRow = base.agg(momentAggs.head, momentAggs.tail: _*).head()
    require(mRow.getAs[Long]("n_t") > 0L &&
      mRow.getAs[Long]("n_t") < mRow.getAs[Long]("n"),
      "aipwAte: both arms must be non-empty")
    def headWeights(arm: Boolean): Seq[Double] = {
      val a = Array.tabulate(k, k) { (j, l) =>
        val (lo, hi) = if (j <= l) (j, l) else (l, j)
        mRow.getAs[Long](s"m_${arm}_${lo}_$hi").toDouble / momentQuant
      }
      val g = Array.tabulate(k)(j =>
        mRow.getAs[Long](s"v_${arm}_$j").toDouble / momentQuant)
      solveFixed(a, g).toSeq
    }
    def predict(ws: Seq[Double]): Column =
      xs.zip(ws).map { case (x, wi) => x * lit(wi) }.reduce(_ + _)
    val m1 = predict(headWeights(true))
    val m0 = predict(headWeights(false))
    val term = ((m1 - m0) +
      when(t, (y - m1) / e).otherwise(lit(0.0))) -
      when(!t, (y - m0) / (lit(1.0) - e)).otherwise(lit(0.0))
    base.agg(
        count(lit(1)).as("n"),
        sum(when(t, 1L).otherwise(0L)).as("n_t"),
        sum(when(!t, 1L).otherwise(0L)).as("n_c"),
        sum(floor(term * lit(termQuant)).cast("long")).as("__qs"))
      .withColumn("ate",
        (col("__qs").cast("double") / lit(termQuant)) /
          col("n").cast("double"))
      .select(col("n"), col("n_t"), col("n_c"), col("ate"))
  }

  /** Merge [[armCounts]] tables: BIGINT re-sum per group. */
  def mergeArmCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy(groupNames.map(col): _*)
      .agg(sum(col("n_t")).as("n_t"), sum(col("x_t")).as("x_t"),
        sum(col("n_c")).as("n_c"), sum(col("x_c")).as("x_c"))

  /** Finalize a (possibly merged) [[armCounts]] table into the
    * [[proportionUplift]] schema — the streaming-readout face. */
  def proportionUpliftFromCounts(agg: DataFrame): DataFrame = {
    val nT = col("n_t"); val nC = col("n_c")
    val rT = when(nT > 0, col("x_t").cast("double") / nT.cast("double"))
    val rC = when(nC > 0, col("x_c").cast("double") / nC.cast("double"))
    val pooledNum = col("x_t") + col("x_c")
    val pooledDen = nT + nC
    val pHat = pooledNum.cast("double") / pooledDen.cast("double")
    val se = sqrt(pHat * (lit(1.0) - pHat) *
      (lit(1.0) / nT.cast("double") + lit(1.0) / nC.cast("double")))
    agg
      .withColumn("rate_t", rT)
      .withColumn("rate_c", rC)
      .withColumn("uplift", rT - rC)
      .withColumn("z", when(nT > 0 && nC > 0 &&
        pooledNum > 0 && pooledNum < pooledDen,
        (rT - rC) / se))
  }

  /** Quantile treatment effects per group — the distributional A/B
    * readout mean-based uplift hides: the per-probability difference
    * of the two arms' order statistics (did the treatment move the
    * median? the tail?). Built on [[quantileProfile]]'s mergeable GK
    * sketches, so each arm's quantiles cost one bounded-sketch
    * aggregation at any scale; with `accuracy` ≥ arm size every
    * returned element is the EXACT discrete order statistic — actual
    * data elements, never interpolations, so the oracle's
    * quantile_disc matches value-for-value and qte is one subtraction
    * of exactly-equal doubles. Output: groups... + (prob, q_t, q_c,
    * qte); q/qte null for a missing arm. */
  def quantileTreatmentEffect(df: DataFrame, groupCols: Seq[String],
      treated: Column, y: Column, probs: Seq[Double],
      accuracy: Int = 1000000): DataFrame = {
    val t = treated.cast("boolean")
    val base = df.filter(t.isNotNull && y.isNotNull)
    val prof = quantileProfile(base, groupCols.map(col) :+ t.as("__t"),
      y.cast("double"), probs, accuracy)
    prof.groupBy((groupCols :+ "prob").map(col): _*)
      .agg(max(when(col("__t"), col("value"))).as("q_t"),
        max(when(!col("__t"), col("value"))).as("q_c"))
      .withColumn("qte", col("q_t") - col("q_c"))
  }

  /** Difference-in-differences per group — the quasi-experimental
    * effect estimate when assignment wasn't randomized but a pre
    * period exists (Card & Krueger 1994's workhorse):
    *
    *   DiD = (ȳ_treated,post − ȳ_treated,pre)
    *       − (ȳ_control,post − ȳ_control,pre)
    *
    * so any time-invariant group difference and any common time trend
    * cancel. The metric is floor-quantized to BIGINTs in-plan (the
    * [[cuped]] precision contract), the four cell sums are exact, each
    * mean a single division, DiD a fixed three-subtraction tail over
    * the /quantScale means — hashes unrounded. Null when any of the
    * four cells is empty (the design is incomplete, not zero-effect).
    * Output: groups... + (n_t_pre, n_t_post, n_c_pre, n_c_post, did). */
  def diffInDiff(df: DataFrame, groupCols: Seq[Column], treated: Column,
      post: Column, y: Column, quantScale: Double = 1e6): DataFrame = {
    require(quantScale >= 1e1 && quantScale <= 1e9,
      s"quantScale in [1e1, 1e9], got $quantScale")
    val t = treated.cast("boolean")
    val p = post.cast("boolean")
    val qy = floor(y.cast("double") * lit(quantScale)).cast("long")
    def cell(ct: Boolean, cp: Boolean) = {
      val cond = (if (ct) t else !t) && (if (cp) p else !p)
      (sum(when(cond, 1L).otherwise(0L)),
        sum(when(cond, qy).otherwise(0L)))
    }
    val (nTPre, sTPre) = cell(ct = true, cp = false)
    val (nTPost, sTPost) = cell(ct = true, cp = true)
    val (nCPre, sCPre) = cell(ct = false, cp = false)
    val (nCPost, sCPost) = cell(ct = false, cp = true)
    val agg = df.filter(t.isNotNull && p.isNotNull && y.isNotNull)
      .groupBy(groupCols: _*)
      .agg(nTPre.as("n_t_pre"), sTPre.as("s_t_pre"),
        nTPost.as("n_t_post"), sTPost.as("s_t_post"),
        nCPre.as("n_c_pre"), sCPre.as("s_c_pre"),
        nCPost.as("n_c_post"), sCPost.as("s_c_post"))
    def mean(sc: String, nc: String) =
      col(sc).cast("double") / col(nc).cast("double") / lit(quantScale)
    agg
      .withColumn("did",
        when(col("n_t_pre") > 0 && col("n_t_post") > 0 &&
          col("n_c_pre") > 0 && col("n_c_post") > 0,
          (mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
            (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre"))))
      .drop("s_t_pre", "s_t_post", "s_c_pre", "s_c_post")
  }

  /** Sample-ratio-mismatch check per group — the A/B test's smoke
    * alarm: if the observed treated/control split deviates from the
    * DESIGNED ratio more than chance allows, the assignment machinery
    * is broken and every downstream readout is suspect. One-df
    * chi-square goodness of fit against expected counts
    * n·ratio / n·(1−ratio):
    *
    *   chi2 = (n_t − e_t)²/e_t + (n_c − e_c)²/e_c
    *
    * Counts exact; e_t = n·ratio is one multiply; the chi2 is a fixed
    * float tail — hashes unrounded. `srm` flags chi2 above the 0.001
    * one-df critical value 10.828 (the conventional SRM alert level —
    * an SRM test must be conservative, a 5% false-alarm rate would
    * page every twentieth experiment). Output: groups... + (n_t, n_c,
    * expected_t, chi2, srm); chi2 null when n = 0 or ratio degenerate. */
  def srmCheck(df: DataFrame, groupCols: Seq[Column], treated: Column,
      ratio: Double = 0.5): DataFrame = {
    require(ratio > 0.0 && ratio < 1.0, s"ratio in (0,1), got $ratio")
    val t = treated.cast("boolean")
    val agg = df.filter(t.isNotNull)
      .groupBy(groupCols: _*)
      .agg(sum(when(t, 1L).otherwise(0L)).as("n_t"),
        sum(when(!t, 1L).otherwise(0L)).as("n_c"))
    val n = (col("n_t") + col("n_c")).cast("double")
    val eT = n * lit(ratio)
    val eC = n * lit(1.0 - ratio)
    val chi2 = when(col("n_t") + col("n_c") > 0,
      (col("n_t").cast("double") - eT) * (col("n_t").cast("double") - eT)
        / eT +
        (col("n_c").cast("double") - eC) *
          (col("n_c").cast("double") - eC) / eC)
    agg
      .withColumn("expected_t", when(col("n_t") + col("n_c") > 0, eT))
      .withColumn("chi2", chi2)
      .withColumn("srm", chi2 > 10.828)
  }

  /** CUPED variance reduction per group (Deng, Xu, Kohavi & Walker,
    * WSDM 2013) — the experimentation-stack workhorse: adjust each
    * arm's metric mean with a pre-experiment covariate,
    *
    *   θ       = cov(y, x) / var(x)          (pooled over both arms)
    *   ŷ_arm   = ȳ_arm − θ·(x̄_arm − x̄_all)
    *
    * so covariate imbalance between arms cancels and the metric's
    * variance drops by corr(y,x)² without biasing the effect.
    *
    * Exactness: y and x are floor-quantized to BIGINTs in-plan
    * (`quantScale` sets the precision — the estimate is DEFINED over
    * the quantized values, the standard ulp-for-portability trade), so
    * all sums are exact, θ is the [[groupOls]] slope expression over
    * exact products, and each mean a single division; the output
    * uplifts divide by quantScale once at the end. One aggregation
    * pass; an in-plan assert raises before n·max(|qx|,|qy|) can wrap
    * the θ numerator's BIGINT products (n·m < 2·10⁹ — at large group
    * sizes pick a coarser quantScale). Output: groups... + (n, n_t,
    * n_c, theta, uplift_raw,
    * uplift_cuped); theta/cuped null when var(x) = 0. */
  def cuped(df: DataFrame, groupCols: Seq[Column], treated: Column,
      y: Column, x: Column, quantScale: Double = 1e6): DataFrame = {
    require(quantScale >= 1e1 && quantScale <= 1e9,
      s"quantScale in [1e1, 1e9], got $quantScale")
    val t = treated.cast("boolean")
    val qy = floor(y.cast("double") * lit(quantScale)).cast("long")
    val qx = floor(x.cast("double") * lit(quantScale)).cast("long")
    val agg = df
      .filter(t.isNotNull && y.isNotNull && x.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(qy).as("sy"), sum(qx).as("sx"),
        sum(qx * qx).as("sxx"),
        sum(qx * qy).as("sxy"),
        max(greatest(abs(qx), abs(qy))).as("__m"),
        sum(when(t, 1L).otherwise(0L)).as("n_t"),
        sum(when(t, qy).otherwise(0L)).as("syt"),
        sum(when(t, qx).otherwise(0L)).as("sxt"),
        sum(when(!t, 1L).otherwise(0L)).as("n_c"),
        sum(when(!t, qy).otherwise(0L)).as("syc"),
        sum(when(!t, qx).otherwise(0L)).as("sxc"))
      // float-domain wrap guard: the θ numerator n·Σxy is bounded by
      // n²·m² = (n·m)², so n·m < 2·10⁹ keeps every BIGINT product
      // clear of 2⁶³ (this dominates n·m², the per-sum bound)
      .filter(assert_true(
        col("n").cast("double") * col("__m").cast("double") < lit(2.0e9),
        lit("cuped: n·max(|qx|,|qy|) risks BIGINT wrap in n·Σxy — " +
          "lower quantScale or rescale inputs")).isNull)
    val n = col("n")
    val den = n * col("sxx") - col("sx") * col("sx") // exact BIGINT
    val num = n * col("sxy") - col("sx") * col("sy")
    val theta = when(den =!= 0, num.cast("double") / den.cast("double"))
    def mean(s: Column, cnt: Column) =
      when(cnt > 0, s.cast("double") / cnt.cast("double"))
    val meanXAll = col("sx").cast("double") / n.cast("double")
    val adjT = mean(col("syt"), col("n_t")) -
      theta * (mean(col("sxt"), col("n_t")) - meanXAll)
    val adjC = mean(col("syc"), col("n_c")) -
      theta * (mean(col("sxc"), col("n_c")) - meanXAll)
    agg
      .withColumn("theta", theta)
      .withColumn("uplift_raw",
        (mean(col("syt"), col("n_t")) - mean(col("syc"), col("n_c"))) /
          lit(quantScale))
      .withColumn("uplift_cuped", (adjT - adjC) / lit(quantScale))
      .drop("sy", "sx", "sxx", "sxy", "__m", "syt", "sxt", "syc", "sxc")
  }

  /** Delta-method uplift test for RATIO-of-sums metrics (Fieller/
    * delta method; the standard fix described in e.g. Deng, Knoblich &
    * Lu, KDD 2018) — the workhorse experiment readout
    * [[proportionUplift]] and [[cuped]] do NOT cover: metrics like CTR
    * = Σclicks/Σviews or revenue-per-session, where the randomization
    * unit (user) contributes MANY correlated numerator/denominator
    * events, so the naive binomial/per-row variance is wrong (usually
    * overconfident).
    *
    * Per arm, with per-unit sums (yᵤ, dᵤ) and R = Σy/Σd:
    *
    *   Var(R̂) ≈ (Cyy − 2R·Cyd + R²·Cdd) / (n−1) / n / d̄²
    *
    * where Cyy/Cyd/Cdd are the per-unit central moment sums and d̄ the
    * mean per-unit denominator; z = (R_t − R_c)/√(Var_t + Var_c).
    *
    * Exactness contract (the [[cuped]] machinery): per-unit sums are
    * floor(x·quantScale) BIGINTs from one exchange; arm moments are
    * conditional BIGINT sums in ONE second (tiny) aggregation; every
    * emitted value is a fixed float expression over their casts —
    * quantScale cancels in R and in Var/d̄², so everything hashes
    * unrounded. `treated` must be constant per unit (it keys the
    * per-unit group — a unit observed in both arms splits, which the
    * SRM check catches upstream).
    *
    * Output: groups... + (n_t, n_c, ratio_t, ratio_c, uplift, se, z);
    * ratios null on an empty arm or zero denominator sum, z null when
    * either arm has n < 2 or se is not positive. */
  def ratioUplift(df: DataFrame, groupCols: Seq[String],
      treated: Column, unitCol: Column, num: Column, den: Column,
      quantScale: Double = 1e6): DataFrame =
    ratioFromMoments(
      ratioMoments(df, groupCols, treated, unitCol, num, den, quantScale),
      groupCols)

  /** The PARTIAL behind [[ratioUplift]]: per-(group, arm) exact BIGINT
    * unit count + per-unit moment sums (Σy, Σd, Σy², Σd², Σyd, plus
    * the max-|quantized-value| wrap-guard witness) over CLOSED units —
    * six associative sums and one max, so batch-sliced partials
    * re-merged per (group, arm) are exactly the one-shot table. The
    * streaming contract matches [[survivalCounts]]: a unit's (num,
    * den) totals are immutable FACTS only once the unit is closed —
    * an open unit's sums would mutate with every new event. */
  def ratioMoments(df: DataFrame, groupCols: Seq[String],
      treated: Column, unitCol: Column, num: Column, den: Column,
      quantScale: Double = 1e6): DataFrame = {
    require(quantScale >= 1e0 && quantScale <= 1e9,
      s"quantScale in [1e0, 1e9], got $quantScale")
    val t = treated.cast("boolean")
    val qn = when(num.isNotNull,
      floor(num.cast("double") * lit(quantScale)).cast("long"))
      .otherwise(0L)
    val qd = when(den.isNotNull,
      floor(den.cast("double") * lit(quantScale)).cast("long"))
      .otherwise(0L)
    val g = groupCols.map(col)
    val perUnit = df.filter(t.isNotNull && unitCol.isNotNull)
      .groupBy(g :+ unitCol.as("__unit") :+ t.as("arm"): _*)
      .agg(sum(qn).as("yn"), sum(qd).as("yd"))
    val yn = col("yn"); val yd = col("yd")
    perUnit.groupBy(g :+ col("arm"): _*)
      .agg(count(lit(1)).as("n"),
        sum(yn).as("sn"), sum(yd).as("sd"),
        sum(yn * yn).as("snn"), sum(yd * yd).as("sdd"),
        sum(yn * yd).as("snd"),
        max(greatest(abs(yn), abs(yd))).as("m"))
  }

  /** Merge [[ratioMoments]] tables: BIGINT re-sum (and max of the
    * wrap-guard witness) per (group, arm). */
  def mergeRatioMoments(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "arm").map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sn")).as("sn"),
        sum(col("sd")).as("sd"), sum(col("snn")).as("snn"),
        sum(col("sdd")).as("sdd"), sum(col("snd")).as("snd"),
        max(col("m")).as("m"))

  /** Finalize a (possibly merged) [[ratioMoments]] table into the
    * [[ratioUplift]] schema — the streaming-readout face. */
  def ratioFromMoments(moments: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val tc = col("arm")
    def armSum(c: Column) = sum(when(tc, c).otherwise(0L))
    def ctlSum(c: Column) = sum(when(!tc, c).otherwise(0L))
    val agg = moments.groupBy(g: _*)
      .agg(armSum(col("n")).as("n_t"), ctlSum(col("n")).as("n_c"),
        armSum(col("sn")).as("snt"), armSum(col("sd")).as("sdt"),
        armSum(col("snn")).as("snnt"), armSum(col("sdd")).as("sddt"),
        armSum(col("snd")).as("sndt"),
        ctlSum(col("sn")).as("snc"), ctlSum(col("sd")).as("sdc"),
        ctlSum(col("snn")).as("snnc"), ctlSum(col("sdd")).as("sddc"),
        ctlSum(col("snd")).as("sndc"),
        max(col("m")).as("__m"))
      // wrap guard: each second-moment sum is bounded by n·m², so
      // n·m² < 4·10¹⁸ keeps every BIGINT clear of 2⁶³
      .filter(assert_true(
        (col("n_t") + col("n_c")).cast("double") *
          col("__m").cast("double") * col("__m").cast("double") <
          lit(4.0e18),
        lit("ratioUplift: n·max(|yn|,|yd|)² risks BIGINT wrap — " +
          "lower quantScale or rescale inputs")).isNull)
    // per-arm finalize: fixed float expression over exact BIGINT casts
    def arm(n: Column, sn: Column, sd: Column, snn: Column,
        sdd: Column, snd: Column): (Column, Column) = {
      val nD = n.cast("double")
      val r = when(sd =!= 0L, sn.cast("double") / sd.cast("double"))
      val cyy = snn.cast("double") -
        sn.cast("double") * sn.cast("double") / nD
      val cyd = snd.cast("double") -
        sn.cast("double") * sd.cast("double") / nD
      val cdd = sdd.cast("double") -
        sd.cast("double") * sd.cast("double") / nD
      val dbar = sd.cast("double") / nD
      val v = when(n > 1L && sd =!= 0L,
        (cyy - lit(2.0) * r * cyd + r * r * cdd) /
          (nD - lit(1.0)) / nD / (dbar * dbar))
      (r, v)
    }
    val (rT, vT) = arm(col("n_t"), col("snt"), col("sdt"),
      col("snnt"), col("sddt"), col("sndt"))
    val (rC, vC) = arm(col("n_c"), col("snc"), col("sdc"),
      col("snnc"), col("sddc"), col("sndc"))
    val se = sqrt(vT + vC)
    agg
      .withColumn("ratio_t", rT)
      .withColumn("ratio_c", rC)
      .withColumn("uplift", rT - rC)
      .withColumn("se", se)
      .withColumn("z", when(se > 0.0, (rT - rC) / se))
      .drop("snt", "sdt", "snnt", "sddt", "sndt",
        "snc", "sdc", "snnc", "sddc", "sndc", "__m")
  }

  /** Two-sample log-rank test per group (Mantel 1966) — "are these two
    * survival curves the same?", the inference companion to
    * [[kaplanMeier]]: at each distinct observed time, cohort 1's
    * observed events d₁ are compared to the hypergeometric expectation
    * E₁ = d·n₁/n under the null, with variance
    * V = d·(n₁/n)·(n₂/n)·(n−d)/(n−1); χ² = (Σ(d₁−E₁))²/ΣV (1 df) and
    * z = (O₁−E₁)/√ΣV carries the direction (negative ⇒ cohort 1 has
    * FEWER events than expected, i.e. better survival).
    *
    * Same shape and portability contract as [[kaplanMeier]]: exact
    * per-(group, t) BIGINT counts, one in-row ascending-time fold
    * carrying the two at-risk tallies and the two float sums (fixed op
    * order — a stepwise mirror recursion matches bit-for-bit); times
    * where n ≤ 1 or d = 0 contribute exactly 0 to both sums. All
    * outputs are +,·,/,√-only — hash unrounded.
    *
    * Output per group: (n1, n2, o1, e1, v, chi2, z); chi2/z are null
    * when ΣV = 0 (no informative times — e.g. one cohort empty). */
  def logRank(df: DataFrame, groupCols: Seq[String], durationCol: Column,
      eventCol: Column, cohort1: Column, maxTimes: Int = 1000): DataFrame =
    logRankFromCounts(
      cohortSurvivalCounts(df, groupCols, durationCol, eventCol, cohort1),
      groupCols, maxTimes)

  /** The PARTIAL behind [[logRank]]: exact per-(group, t) BIGINT
    * events/censored counts SPLIT BY COHORT over closed subjects —
    * four associative sums, the two-cohort analog of
    * [[survivalCounts]] with the same closed-subject streaming
    * contract. */
  def cohortSurvivalCounts(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column,
      cohort1: Column): DataFrame = {
    val ev = eventCol.cast("boolean")
    val c1 = cohort1.cast("boolean")
    df.filter(durationCol.isNotNull && ev.isNotNull && c1.isNotNull)
      .groupBy(groupCols.map(col) :+ durationCol.cast("double").as("t"): _*)
      .agg(sum(when(c1 && ev, 1L).otherwise(0L)).as("d1"),
        sum(when(c1 && !ev, 1L).otherwise(0L)).as("x1"),
        sum(when(!c1 && ev, 1L).otherwise(0L)).as("d2"),
        sum(when(!c1 && !ev, 1L).otherwise(0L)).as("x2"))
  }

  /** Merge [[cohortSurvivalCounts]] tables: BIGINT re-sum per cell. */
  def mergeCohortSurvivalCounts(partials: Seq[DataFrame],
      groupNames: Seq[String]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy((groupNames :+ "t").map(col): _*)
      .agg(sum(col("d1")).as("d1"), sum(col("x1")).as("x1"),
        sum(col("d2")).as("d2"), sum(col("x2")).as("x2"))

  /** Stratified log-rank test per group (Mantel 1966; the standard
    * clinical adjustment, Peto & Peto 1972) — compare two cohorts'
    * survival CONTROLLING for a confounding stratum (site, age band,
    * device class): the per-stratum O−E and V from the plain
    * [[logRank]] machinery sum across strata, so cohorts are only ever
    * compared WITHIN a stratum — the survival-side CMH:
    *
    *   z = Σ_s (O₁−E₁)_s / √(Σ_s V_s),   χ² = z²
    *
    * One more readout over the [[cohortSurvivalCounts]] partial keyed
    * by (group, stratum): per-stratum tests fold cross-stratum in
    * FIXED ascending-stratum order (the CMH order-pinning); all ops
    * +,·,/,√ — hashes unrounded.
    *
    * Each stratum's O−E re-derives from [[logRank]]'s reported
    * (o1, e1) surface — o1 − e1, one deterministic ULP roundtrip of
    * the internal fold value, identical in every engine that replays
    * the same ops.
    *
    * Output: groups... + (n_strata, n1, n2, o1, oe_sum, v_sum, chi2,
    * z); chi2/z null when ΣV = 0. */
  def stratifiedLogRank(df: DataFrame, groupCols: Seq[String],
      stratumCol: Column, durationCol: Column, eventCol: Column,
      cohort1: Column, maxTimes: Int = 1000): DataFrame = {
    val df2 = df.filter(stratumCol.isNotNull)
      .withColumn("__stratum", stratumCol)
    stratifiedLogRankFromCounts(
      cohortSurvivalCounts(df2, groupCols :+ "__stratum", durationCol,
        eventCol, cohort1),
      groupCols, "__stratum", maxTimes)
  }

  /** Finalize a (possibly merged) per-(group, stratum)
    * [[cohortSurvivalCounts]] table into the [[stratifiedLogRank]]
    * schema — the streaming-readout face (the same stored deltas the
    * plain log-rank maintains, read with the stratum in the key). */
  def stratifiedLogRankFromCounts(counts: DataFrame,
      groupCols: Seq[String], stratumName: String,
      maxTimes: Int = 1000): DataFrame = {
    val per = logRankFromCounts(counts, groupCols :+ stratumName,
      maxTimes)
    val g = groupCols.map(col)
    val grouped = per.groupBy(g: _*)
      .agg(count(lit(1)).as("n_strata"),
        sum(col("n1")).as("n1"), sum(col("n2")).as("n2"),
        sum(col("o1")).as("o1"),
        sort_array(collect_list(struct(col(stratumName),
          (col("o1").cast("double") - col("e1")).as("oe"),
          col("v")))).as("__s"))
    def fold(f: String): Column = aggregate(col("__s"), lit(0.0),
      (acc, x) => acc + x.getField(f))
    grouped
      .withColumn("oe_sum", fold("oe"))
      .withColumn("v_sum", fold("v"))
      .withColumn("chi2", when(col("v_sum") > 0.0,
        col("oe_sum") * col("oe_sum") / col("v_sum")))
      .withColumn("z", when(col("v_sum") > 0.0,
        col("oe_sum") / sqrt(col("v_sum"))))
      .select(g ++ Seq(col("n_strata"), col("n1"), col("n2"),
        col("o1"), col("oe_sum"), col("v_sum"), col("chi2"),
        col("z")): _*)
  }

  /** Standardized mortality/event ratio per group against the POOLED
    * cohort (indirect standardization, the classic SMR table): each
    * group's observed events O against the events EXPECTED if the
    * group experienced the pooled Nelson–Aalen hazard over its own
    * follow-up, E = Σᵢ Ĥ_pooled(tᵢ) — "which cohorts over/under-event
    * after accounting for how long each member was watched".
    *
    *   SMR = O/E,  CI = (√O ± z/2)²/E  (Vandenbroucke 1982 — √-only,
    *   no gamma quantiles, hashes unrounded)
    *
    * Shape: the pooled hazard thins to the ≤ maxTimes distinct-time
    * grid and accumulates by an in-row ascending-time fold (the
    * [[nelsonAalen]] sum — seed 0.0, mirror-replayable); each
    * subject's Ĥ(tᵢ) is a step-function lookup over the broadcast
    * grid, floor-quantized (·quantScale) before the only cross-row
    * BIGINT sum. O is exact. E is quantized to 1/quantScale
    * (documented estimand). SMR/CI null when E = 0.
    *
    * Output: groups... + (n, o, e, smr, lo, hi). */
  def smr(df: DataFrame, groupCols: Seq[String], durationCol: Column,
      eventCol: Column, z: Double = 1.96, quantScale: Double = 1e9,
      maxTimes: Int = 1000): DataFrame = {
    require(z > 0 && z <= 10, s"smr needs 0 < z <= 10, got $z")
    require(quantScale >= 1e3 && quantScale <= 1e9 &&
      quantScale == math.floor(quantScale),
      s"quantScale integral in [1e3, 1e9], got $quantScale")
    val g = groupCols.map(col)
    val ev = eventCol.cast("boolean")
    val base = df.filter(durationCol.isNotNull && ev.isNotNull)
      .select(g ++ Seq(durationCol.cast("double").as("__t"),
        ev.as("__e")): _*)
    // pooled hazard grid: ONE all-groups Nelson–Aalen, collected
    // in-row (≤ maxTimes rows) and broadcast back
    val pooled = nelsonAalen(base.withColumn("__all", lit("all")),
      Seq("__all"), col("__t"), col("__e"), maxTimes)
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"),
        col("cum_hazard")))).as("__gr"))
    // binary-search step lookup (r16) — see [[stepLookupLeq0]]; was an
    // interpreted O(|grid|) fold per subject row
    val hAt = stepLookupLeq0(col("__gr"), col("__t"))
    val sums = base.crossJoin(broadcast(pooled))
      .withColumn("__qe", floor(hAt * lit(quantScale)).cast("long"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("o"),
        sum(col("__qe")).as("__se"), max(col("__qe")).as("__mq"))
      .filter(assert_true(col("n").cast("double") *
          greatest(col("__mq"), lit(0L)).cast("double") < 4.6e18,
        lit("smr: quantized expected-event sum may wrap BIGINT — " +
          "lower quantScale or shard groups")).isNull)
    val e = col("__se").cast("double") / lit(quantScale)
    val oD = col("o").cast("double")
    sums
      .withColumn("e", e)
      .withColumn("smr", when(e > 0.0, oD / e))
      .withColumn("lo", when(e > 0.0, {
        val s = sqrt(oD) - lit(z / 2.0)
        (s * s) / e
      }))
      .withColumn("hi", when(e > 0.0, {
        val s = sqrt(oD) + lit(z / 2.0)
        (s * s) / e
      }))
      .select(g ++ Seq(col("n"), col("o"), col("e"), col("smr"),
        col("lo"), col("hi")): _*)
  }

  /** Log-rank trend test across ORDERED cohorts per group (Tarone,
    * Biometrics 1975) — the survival companion of
    * [[jonckheereTerpstra]]: k dose-ordered cohorts (model size, data
    * fraction, severity tier), H₁ = survival shifts MONOTONICALLY with
    * the dose. The score statistic with per-level scores s_g = the
    * level value:
    *
    *   U = Σ_t [ Σ_g s_g·d_g(t) − d(t)/n(t) · Σ_g s_g·n_g(t) ]
    *   V = Σ_t d(n−d)/(n²(n−1)) · [ n·Σ_g s_g²n_g − (Σ_g s_g n_g)² ]
    *   z = U/√V
    *
    * (the Σ_gh s_g s_h V_gh hypergeometric covariance collapses to the
    * bracketed form). RECURSION-FREE shape: at-risk counts n_g(t) are
    * SUFFIX sums over the densified level×time grid (one window), the
    * per-time U/V terms are fixed float expressions over exact BIGINTs,
    * and each term floor-quantizes (·quantScale, the logisticFit
    * discipline) so the cross-time sums are associative BIGINTs — no
    * ordered fold, no recursive mirror; an engine replays windows +
    * the identical floor chain. U and V are therefore quantized to
    * 1/quantScale (documented estimand).
    *
    * `levelCol` must be numeric (the scores); ≤ `maxLevels` distinct
    * values fail-fast. Output: groups... + (n, k_levels, u, v, z);
    * z null when V ≤ 0. */
  def trendLogRank(df: DataFrame, groupCols: Seq[String],
      durationCol: Column, eventCol: Column, levelCol: Column,
      maxLevels: Int = 20, maxTimes: Int = 1000,
      quantScale: Double = 1e9): DataFrame = {
    require(maxLevels >= 2 && maxLevels <= 100,
      s"trendLogRank needs 2 <= maxLevels <= 100, got $maxLevels")
    require(quantScale >= 1e3 && quantScale <= 1e9 &&
      quantScale == math.floor(quantScale),
      s"quantScale integral in [1e3, 1e9], got $quantScale")
    val g = groupCols.map(col)
    val ev = eventCol.cast("boolean")
    // lazy localCheckpoint (r16): cnt feeds the level dim, the time dim,
    // AND the grid join — the jonckheereFromLevelCounts pattern; without
    // the cut the scan+aggregate planned and executed three times
    val cnt = df
      .filter(durationCol.isNotNull && ev.isNotNull && levelCol.isNotNull)
      .groupBy(g ++ Seq(levelCol.cast("double").as("__l"),
        durationCol.cast("double").as("t")): _*)
      .agg(sum(when(ev, 1L).otherwise(0L)).as("d"),
        sum(when(!ev, 1L).otherwise(0L)).as("c"))
      .localCheckpoint(eager = false)
    val W = org.apache.spark.sql.expressions.Window
    val names = groupCols
    val lv = cnt.select(g :+ col("__l"): _*).distinct()
      .withColumn("__kl", count(lit(1)).over(W.partitionBy(g: _*)))
      .filter(assert_true(col("__kl") <= maxLevels.toLong,
        lit(s"trendLogRank: a group exceeds maxLevels=$maxLevels — " +
          "the dose factor must be bounded")).isNull)
    val times = cnt.select(g :+ col("t"): _*).distinct()
      .withColumn("__tn", count(lit(1)).over(W.partitionBy(g: _*)))
      .filter(assert_true(col("__tn") <= maxTimes.toLong,
        lit(s"trendLogRank: a group exceeds maxTimes=$maxTimes " +
          "distinct times — bin durations coarser first")).isNull)
      .drop("__tn")
    val grid = lv.join(times, names)
      .join(cnt, names ++ Seq("__l", "t"), "left")
      .na.fill(0L, Seq("d", "c"))
    // at-risk per level at t: suffix sum INCLUDING the current time
    val wSuf = W.partitionBy((names :+ "__l").map(col): _*)
      .orderBy(col("t"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val atRisk = grid.withColumn("__nl", sum(col("d") + col("c")).over(wSuf))
    val byT = atRisk.groupBy(g :+ col("t"): _*)
      .agg(sum(col("d")).as("__d"), sum(col("__nl")).as("__n"),
        sum(col("__l") * col("d").cast("double")).as("__sd"),
        sum(col("__l") * col("__nl").cast("double")).as("__sn"),
        sum(col("__l") * col("__l") * col("__nl").cast("double"))
          .as("__sn2"),
        first(col("__kl")).as("k_levels"))
    val nD = col("__n").cast("double"); val dD = col("__d").cast("double")
    val uT = col("__sd") - dD / nD * col("__sn")
    val cT = when(col("__n") > 1L && col("__d") > 0L,
      dD * (nD - dD) / (nD * nD * (nD - lit(1.0)))).otherwise(lit(0.0))
    val vT = cT * (nD * col("__sn2") - col("__sn") * col("__sn"))
    val qU = uT * lit(quantScale)
    val qV = vT * lit(quantScale)
    byT
      .filter(assert_true(abs(qU) < 4.6e18 && abs(qV) < 4.6e18,
        lit("trendLogRank: quantized per-time term exceeds BIGINT — " +
          "lower quantScale")).isNull)
      .groupBy(g: _*)
      .agg(first(col("k_levels")).as("k_levels"),
        max(col("__n")).as("n"),
        sum(floor(qU)).as("__qu"),
        sum(floor(qV)).as("__qv"),
        count(lit(1)).as("__nt"),
        greatest(max(abs(floor(qU))), max(abs(floor(qV)))).as("__mx"))
      .filter(assert_true(col("__nt").cast("double") *
          greatest(col("__mx"), lit(0L)).cast("double") < 4.6e18,
        lit("trendLogRank: quantized sum may wrap BIGINT — lower " +
          "quantScale or shard groups")).isNull)
      .withColumn("u", col("__qu").cast("double") / lit(quantScale))
      .withColumn("v", col("__qv").cast("double") / lit(quantScale))
      .withColumn("z", when(col("v") > 0.0, col("u") / sqrt(col("v"))))
      .select(g ++ Seq(col("n"), col("k_levels"), col("u"), col("v"),
        col("z")): _*)
  }

  /** Finalize a (possibly merged) [[cohortSurvivalCounts]] table into
    * the [[logRank]] schema — the streaming-readout face. */
  def logRankFromCounts(counts: DataFrame, groupCols: Seq[String],
      maxTimes: Int = 1000): DataFrame = {
    // weight 1.0 is exact (1.0·x == x), so the fold is the unweighted
    // test's; its readout reports E1 = O1 − Σ(O−E) in oe's place
    weightedLogRankFromCounts(counts, groupCols, maxTimes, "logRank",
      _ => lit(1.0))
      .withColumn("oe", col("o1").cast("double") - col("oe"))
      .withColumnRenamed("oe", "e1")
  }

  /** Wald's sequential probability ratio test per group (Wald 1945) —
    * the sequential-testing face of the experimentation block: for a
    * binary outcome, the cumulative log-likelihood ratio of p₁ vs p₀
    *
    *   LLR = x·ln(p₁/p₀) + (n−x)·ln((1−p₁)/(1−p₀))
    *
    * against Wald's boundaries ln((1−β)/α) (accept H₁) and
    * ln(β/(1−α)) (accept H₀) — the test that lets a metric monitor
    * stop EARLY with guaranteed error rates instead of fixing n in
    * advance. Counts are exact BIGINTs from one aggregation; the ln
    * factors are constants of the parameters, so llr and the
    * boundaries carry the ln convention (registered faces round them
    * at 12dp). A decision compare could flip only for an llr within
    * ~1e-12 of a boundary.
    *
    * Output: groups... + (n, x, llr, lower, upper, decision ∈
    * accept_h1 / accept_h0 / continue). */
  def sprt(df: DataFrame, groupCols: Seq[Column], outcome: Column,
      p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.2): DataFrame = {
    require(p0 > 0.0 && p0 < 1.0 && p1 > 0.0 && p1 < 1.0 && p0 != p1,
      s"p0/p1 must be distinct in (0,1), got $p0 / $p1")
    require(alpha > 0.0 && alpha < 1.0 && beta > 0.0 && beta < 1.0,
      s"alpha/beta in (0,1), got $alpha / $beta")
    val o = outcome.cast("boolean")
    val agg = df.filter(o.isNotNull)
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(o, 1L).otherwise(0L)).as("x"))
    // ln factors evaluated IN-PLAN from the parameter literals, so a
    // SQL mirror forms the identical expressions (same decimal
    // literals → same doubles → engine-local ln within 1 ulp)
    val lnWin = log(lit(p1) / lit(p0))
    val lnLose = log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
    val llr = col("x").cast("double") * lnWin +
      (col("n") - col("x")).cast("double") * lnLose
    val upper = log((lit(1.0) - lit(beta)) / lit(alpha))
    val lower = log(lit(beta) / (lit(1.0) - lit(alpha)))
    agg
      .withColumn("llr", llr)
      .withColumn("lower", lower)
      .withColumn("upper", upper)
      .withColumn("decision",
        when(col("llr") >= col("upper"), "accept_h1")
          .when(col("llr") <= col("lower"), "accept_h0")
          .otherwise("continue"))
  }

  /** Mixture SPRT / always-valid p-value for a two-proportion metric
    * (Johari, Koomen, Pekelis & Walsh, KDD 2017 — the "peeking-proof"
    * test behind always-valid A/B dashboards): with the observed rate
    * difference θ̂ and its variance s², the Gaussian-mixture likelihood
    * ratio under mixing variance τ² is
    *
    *   Λ = √(s²/(s²+τ²)) · exp( θ̂²·τ² / (2·s²·(s²+τ²)) )
    *
    * and p_always_valid = min(1, 1/Λ) stays a valid p-value no matter
    * how often the dashboard is refreshed (in a stream, keep the
    * running min — Λ here is the at-rest batch face over the current
    * exact counts, which IS the sequential statistic at this n).
    *
    * Exact counts from one aggregation; θ̂/s² are fixed float
    * expressions; Λ and p carry exp (the ln convention — registered
    * faces round them at 12dp); `significant` compares the UNROUNDED
    * p to alpha. Null when an arm is empty or s² is degenerate (0).
    *
    * Output: groups... + (n_t, x_t, n_c, x_c, theta, s2, lambda,
    * p_always_valid, significant). */
  def msprt(df: DataFrame, groupCols: Seq[Column], treated: Column,
      outcome: Column, tauSq: Double = 1e-4,
      alpha: Double = 0.05): DataFrame =
    msprtFromCounts(armCounts(df, groupCols, treated, outcome),
      tauSq, alpha)

  /** Finalize a (possibly merged) [[armCounts]] table into the
    * [[msprt]] schema — the streaming-readout face: the live
    * always-valid dashboard re-reads stored count deltas, never event
    * history, and the validity-under-peeking guarantee is exactly why
    * a continuously-refreshed readout of this number is sound. */
  def msprtFromCounts(agg: DataFrame, tauSq: Double = 1e-4,
      alpha: Double = 0.05): DataFrame = {
    require(tauSq > 0.0, s"tauSq must be positive, got $tauSq")
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val nT = col("n_t").cast("double"); val nC = col("n_c").cast("double")
    val pT = when(col("n_t") > 0L, col("x_t").cast("double") / nT)
    val pC = when(col("n_c") > 0L, col("x_c").cast("double") / nC)
    val theta = pT - pC
    val s2 = pT * (lit(1.0) - pT) / nT + pC * (lit(1.0) - pC) / nC
    val lam = when(s2 > 0.0,
      sqrt(s2 / (s2 + lit(tauSq))) *
        exp(theta * theta * lit(tauSq) /
          (lit(2.0) * s2 * (s2 + lit(tauSq)))))
    val p = when(lam.isNotNull, least(lit(1.0), lit(1.0) / lam))
    agg
      .withColumn("theta", theta)
      .withColumn("s2", s2)
      .withColumn("lambda", lam)
      .withColumn("p_always_valid", p)
      .withColumn("significant",
        when(p.isNotNull, p < lit(alpha)))
  }

  /** Pocock critical values, two-sided α ∈ {0.05, 0.01}, K
    * equally-spaced looks (Pocock, Biometrika 1977; tabulated in
    * Jennison & Turnbull 2000, Table 2.1) — the boundary is CONSTANT
    * across looks. */
  private val pocockC = Map(
    0.05 -> Map(1 -> 1.960, 2 -> 2.178, 3 -> 2.289, 4 -> 2.361,
      5 -> 2.413, 6 -> 2.453, 7 -> 2.485, 8 -> 2.512, 9 -> 2.535,
      10 -> 2.555),
    0.01 -> Map(1 -> 2.576, 2 -> 2.772, 3 -> 2.873, 4 -> 2.939,
      5 -> 2.986, 6 -> 3.023, 7 -> 3.053, 8 -> 3.078, 9 -> 3.099,
      10 -> 3.117))

  /** O'Brien–Fleming scale constants, two-sided α ∈ {0.05, 0.01}, K
    * equally-spaced looks (O'Brien & Fleming, Biometrics 1979;
    * Jennison & Turnbull 2000, Table 2.3) — the look-k boundary is
    * c_B(K)·√(K/k): very strict early, ≈ the fixed-sample quantile at
    * the final look. */
  private val obfC = Map(
    0.05 -> Map(1 -> 1.960, 2 -> 1.977, 3 -> 2.004, 4 -> 2.024,
      5 -> 2.040, 6 -> 2.053, 7 -> 2.063, 8 -> 2.072, 9 -> 2.080,
      10 -> 2.087),
    0.01 -> Map(1 -> 2.576, 2 -> 2.580, 3 -> 2.595, 4 -> 2.609,
      5 -> 2.621, 6 -> 2.631, 7 -> 2.640, 8 -> 2.648, 9 -> 2.654,
      10 -> 2.660))

  /** Group-sequential two-proportion test with Pocock or
    * O'Brien–Fleming stopping boundaries — the DESIGNED-interim
    * counterpart of [[msprt]]'s always-valid monitoring: a real
    * experiment platform pre-registers K analysis looks and rejects at
    * look k when |z_k| crosses a boundary calibrated so the WHOLE
    * procedure spends two-sided α = 0.05. Boundaries come from the
    * LITERAL K ≤ 10 equally-spaced-look tables above (normal-quantile
    * integration is not SQL-replayable; published constants are — the
    * Poisson-CDF-literal precedent).
    *
    * Reads the [[armCounts]] seam keyed by (group, look): per-look
    * counts densify into CUMULATIVE exact BIGINTs through each look
    * (one grid-sized window), z_k is the pooled two-proportion z of
    * [[proportionUplift]] over the cumulative counts, and the readout
    * compares against the literal boundary — sqrt-only float tail, so
    * every column hashes unrounded.
    *
    * Contract: `lookCol` must be integers in 1..looks — the tables
    * assume equally-spaced information, so the caller bins calendar
    * time into equal-information looks first. Looks with no data
    * inherit the previous cumulative counts only if present in the
    * input; absent looks simply emit no row (a monitoring gap, not a
    * boundary change). z is null when an arm is empty or the pooled
    * rate is degenerate.
    *
    * Output: groups... + (look, boundary, n_t, x_t, n_c, x_c — all
    * cumulative — z, reject). */
  def groupSequentialTest(df: DataFrame, groupCols: Seq[String],
      lookCol: Column, treated: Column, outcome: Column,
      looks: Int, kind: String = "obf",
      alpha: Double = 0.05): DataFrame = {
    require(looks >= 1 && looks <= 10,
      s"groupSequentialTest: looks in 1..10 (the literal tables), got $looks")
    require(kind == "obf" || kind == "pocock",
      s"groupSequentialTest: kind must be obf|pocock, got $kind")
    val perLook = armCounts(
      df.filter(lookCol.isNotNull),
      groupCols.map(col) :+ lookCol.cast("int").as("look"),
      treated, outcome)
      .filter(assert_true(col("look") >= 1 && col("look") <= looks,
        lit(s"groupSequentialTest: look outside 1..$looks — bin " +
          "calendar time into the pre-registered looks first")).isNull)
    groupSequentialFromCounts(perLook, groupCols, looks, kind, alpha)
  }

  /** Finalize a (possibly merged) per-(group, look) [[armCounts]]
    * table into the [[groupSequentialTest]] schema — the
    * streaming-readout face: the interim dashboard re-reads stored
    * per-look count deltas, never event history. */
  def groupSequentialFromCounts(counts: DataFrame,
      groupCols: Seq[String], looks: Int,
      kind: String = "obf", alpha: Double = 0.05): DataFrame = {
    require(looks >= 1 && looks <= 10,
      s"groupSequentialFromCounts: looks in 1..10, got $looks")
    require(alpha == 0.05 || alpha == 0.01,
      s"groupSequentialFromCounts: the literal tables cover two-sided " +
        s"alpha in {0.05, 0.01}, got $alpha")
    val cTable = (if (kind == "pocock") pocockC else obfC)(alpha)
    val cK = cTable(looks)
    // literal per-look boundary column: CASE look WHEN k THEN <decimal>
    // — constants land in the plan (and its SQL mirror) verbatim
    val boundary = (1 to looks).foldLeft(lit(null).cast("double")) {
      case (acc, k) =>
        val b = if (kind == "pocock") cK else cK * math.sqrt(looks.toDouble / k)
        when(col("look") === k, lit(b)).otherwise(acc)
    }
    val g = groupCols.map(col)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("look"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = counts
      .withColumn("n_t", sum(col("n_t")).over(wc))
      .withColumn("x_t", sum(col("x_t")).over(wc))
      .withColumn("n_c", sum(col("n_c")).over(wc))
      .withColumn("x_c", sum(col("x_c")).over(wc))
    val nT = col("n_t").cast("double"); val nC = col("n_c").cast("double")
    val pT = col("x_t").cast("double") / nT
    val pC = col("x_c").cast("double") / nC
    val pPool = (col("x_t") + col("x_c")).cast("double") /
      (col("n_t") + col("n_c")).cast("double")
    val z = when(col("n_t") > 0L && col("n_c") > 0L &&
        pPool > 0.0 && pPool < 1.0,
      (pT - pC) / sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / nT + lit(1.0) / nC)))
    cum
      .withColumn("boundary", boundary)
      .withColumn("z", z)
      .withColumn("reject",
        when(z.isNotNull, abs(z) > col("boundary")))
      .select(g ++ Seq(col("look"), col("boundary"), col("n_t"),
        col("x_t"), col("n_c"), col("x_c"), col("z"),
        col("reject")): _*)
  }

  /** Win ratio for hierarchical composite endpoints per group (Pocock
    * et al., Eur. Heart J. 2012) — the estimand a composite outcome
    * ("death, else hospitalization, else symptom score") needs:
    * every treatment×control pair is compared on the FIRST tier where
    * the two subjects differ (larger value wins — encode "later death
    * time is better" accordingly); pairs equal on every tier tie.
    *
    *   WR = W / L,  W = #pairs treatment wins, L = #pairs control wins
    *
    * NOT a quadratic pair join: a pair resolves at tier τ iff the two
    * subjects are EQUAL on tiers 1..τ−1, so the tier-τ strict-win
    * count is a Mann–Whitney strict count WITHIN each equal-prefix
    * subgroup — grouping by (group, o₁..o_{τ−1}) partitions exactly
    * the pairs still unresolved. Per tier: the [[valueCounts]] doubled-
    * midrank window gives 2U₁ = R₁ₓ₂ − n₁(n₁+1) per subgroup, tie
    * pairs T = Σ_x c₁c₂, and the doubled strict counts
    *
    *   W₂ = R₁ₓ₂ − n₁(n₁+1) − T,   L₂ = 2n₁n₂ − W₂ − 2T
    *
    * are exact BIGINTs; k tiers cost k count-aggregation passes over
    * the subjects (k ≤ 5), never a pair join. Rolled up over
    * subgroups and tiers, wins/losses/ties are exact integers.
    *
    * Inference: z = (W − L)/√(W + L), the Pocock-paper "win
    * difference" normal approximation (resolved pairs as ±1 under H₀
    * — conservative; the exact U-statistic variance needs per-subject
    * win profiles, out of scope and documented so). WR null when
    * L = 0; z null when W + L = 0. Subjects with a null in any tier
    * drop (a hierarchical comparison needs every tier).
    *
    * BIGINT bound: the [[mannWhitneyU]] guards apply per subgroup; the
    * rolled-up doubled counts are < 2·n₁·n₂ < n² — safe under
    * n < 2³¹ (witnessed in-plan, DOUBLE multiply so the witness cannot
    * wrap).
    *
    * Output: groups... + (n_t, n_c, wins, losses, ties, win_ratio,
    * log_wr, z). */
  def winRatio(df: DataFrame, groupCols: Seq[String], treated: Column,
      tiers: Seq[Column]): DataFrame = {
    require(tiers.nonEmpty && tiers.size <= 5,
      s"winRatio needs 1..5 outcome tiers, got ${tiers.size}")
    val t = treated.cast("boolean")
    val base = df.filter(t.isNotNull &&
        tiers.map(_.isNotNull).reduce(_ && _))
      .select(groupCols.map(col) ++ Seq(t.as("__arm")) ++
        tiers.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }: _*)
    val g = groupCols.map(col)
    val W = org.apache.spark.sql.expressions.Window
    // one pass per tier: subgroup = equal prefix o₀..o_{τ−1}
    val perTier = tiers.indices.map { ti =>
      val prefix = (0 until ti).map(i => col(s"__o$i"))
      val sub = g ++ prefix
      val cells = base
        .groupBy(sub :+ col(s"__o$ti").as("__x"): _*)
        .agg(sum(when(col("__arm"), 1L).otherwise(0L)).as("__c1"),
          sum(when(!col("__arm"), 1L).otherwise(0L)).as("__c2"))
        .withColumn("__t", col("__c1") + col("__c2"))
      val wCum = W.partitionBy(sub: _*).orderBy(col("__x"))
        .rangeBetween(W.unboundedPreceding, W.currentRow)
      cells
        .withColumn("__cum", sum(col("__t")).over(wCum))
        .groupBy(sub: _*)
        .agg(sum(col("__c1")).as("__n1"), sum(col("__c2")).as("__n2"),
          sum(col("__c1") * (lit(2L) * col("__cum") - col("__t") + 1L))
            .as("__r1x2"),
          sum(col("__c1") * col("__c2")).as("__tp"))
        .select(g ++ Seq(
          (col("__r1x2") - col("__n1") * (col("__n1") + 1L) -
            col("__tp")).as("__w2"),
          (lit(2L) * col("__n1") * col("__n2") -
            (col("__r1x2") - col("__n1") * (col("__n1") + 1L) -
              col("__tp")) - lit(2L) * col("__tp")).as("__l2"),
          // final ties only persist past the LAST tier
          (if (ti == tiers.size - 1) lit(2L) * col("__tp")
           else lit(0L)).as("__t2"),
          (if (ti == 0) col("__n1") else lit(0L)).as("__n1r"),
          (if (ti == 0) col("__n2") else lit(0L)).as("__n2r")): _*)
    }
    val rolled = perTier.reduce(_.unionByName(_))
      .groupBy(g: _*)
      .agg(sum(col("__w2")).as("__w2"), sum(col("__l2")).as("__l2"),
        sum(col("__t2")).as("__t2"), sum(col("__n1r")).as("n_t"),
        sum(col("__n2r")).as("n_c"))
      .filter(assert_true((col("n_t") + col("n_c")).cast("double") <
          lit(math.pow(2, 31)),
        lit("winRatio: n >= 2^31 — doubled pair counts may wrap; " +
          "shard groups first")).isNull)
    // the doubled counts are even by construction; integer-halve so the
    // outputs stay BIGINT (Spark's `/` would promote to double)
    val w = (col("__w2") / lit(2L)).cast("long")
    val l = (col("__l2") / lit(2L)).cast("long")
    rolled
      .withColumn("wins", w).withColumn("losses", l)
      .withColumn("ties", (col("__t2") / lit(2L)).cast("long"))
      .withColumn("win_ratio", when(l > 0L,
        w.cast("double") / l.cast("double")))
      .withColumn("log_wr", when(w > 0L && l > 0L,
        log(w.cast("double") / l.cast("double"))))
      .withColumn("z", when(w + l > 0L,
        (w - l).cast("double") / sqrt((w + l).cast("double"))))
      .select(g ++ Seq(col("n_t"), col("n_c"), col("wins"),
        col("losses"), col("ties"), col("win_ratio"), col("log_wr"),
        col("z")): _*)
  }

  /** Qini / uplift curve by score bucket (Radcliffe 2007) — the
    * standard readout for "did the model find the persuadables": rank
    * units by descending model score into `buckets` equal-depth
    * buckets (deterministic (score desc, id) order), then per bucket
    * the CUMULATIVE incremental gain
    *
    *   gain(b) = Xt(b) − Xc(b)·Nt(b)/Nc(b)
    *
    * against the random-targeting baseline gain(B)·(N(b)/N). All
    * counts are exact BIGINT window sums over one exchange; gain /
    * baseline / qini_contrib are +,·,/ expressions — everything
    * hashes unrounded (no libm). Σ qini_contrib over buckets is the
    * (unnormalized) Qini coefficient.
    *
    * Output: groups... + (bucket 1..B, n_t, x_t, n_c, x_c — all
    * cumulative — gain, baseline, qini_contrib). */
  def qiniCurve(df: DataFrame, groupCols: Seq[String], treated: Column,
      outcome: Column, scoreCol: Column, idCol: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 100,
      s"buckets in 2..100, got $buckets")
    val t = treated.cast("boolean")
    val o = outcome.cast("boolean")
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*)
      .orderBy(col("__score").desc, col("__id"))
    val ranked = df.filter(t.isNotNull && o.isNotNull &&
        scoreCol.isNotNull)
      .select(g :+ t.as("__t") :+ o.as("__o") :+
        scoreCol.cast("double").as("__score") :+ idCol.as("__id"): _*)
      .withColumn("__b", ntile(buckets).over(w))
    val byBucket = ranked.groupBy(g :+ col("__b").as("bucket"): _*)
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("bn_t"),
        sum(when(col("__t") && col("__o"), 1L).otherwise(0L)).as("bx_t"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("bn_c"),
        sum(when(!col("__t") && col("__o"), 1L).otherwise(0L))
          .as("bx_c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    val cum = byBucket
      .withColumn("n_t", sum(col("bn_t")).over(wc))
      .withColumn("x_t", sum(col("bx_t")).over(wc))
      .withColumn("n_c", sum(col("bn_c")).over(wc))
      .withColumn("x_c", sum(col("bx_c")).over(wc))
      .withColumn("__tnt", sum(col("bn_t")).over(wAll))
      .withColumn("__txt", sum(col("bx_t")).over(wAll))
      .withColumn("__tnc", sum(col("bn_c")).over(wAll))
      .withColumn("__txc", sum(col("bx_c")).over(wAll))
    val gain = when(col("n_c") > 0L,
      col("x_t").cast("double") - col("x_c").cast("double") *
        col("n_t").cast("double") / col("n_c").cast("double"))
    val totalGain = when(col("__tnc") > 0L,
      col("__txt").cast("double") - col("__txc").cast("double") *
        col("__tnt").cast("double") / col("__tnc").cast("double"))
    val frac = (col("n_t") + col("n_c")).cast("double") /
      (col("__tnt") + col("__tnc")).cast("double")
    val baseline = totalGain * frac
    cum
      .withColumn("gain", gain)
      .withColumn("baseline", baseline)
      .withColumn("qini_contrib", gain - baseline)
      .drop("bn_t", "bx_t", "bn_c", "bx_c",
        "__tnt", "__txt", "__tnc", "__txc")
  }

  /** Poisson(1) inverse CDF thresholds for [[poissonBootstrapMean]] —
    * cdf(k) for k = 0..7, written as exact decimal literals so a SQL
    * mirror embedding the SAME literals parses the SAME doubles (the
    * weight is a pure threshold count, no libm at runtime). */
  val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428846, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507120, 0.9999897508033253)

  /** Percentile-bootstrap CI for a per-unit mean via the ONLINE
    * POISSON BOOTSTRAP (Chamandy et al., Google 2012; Efron 1979 for
    * the bootstrap itself) — the scale answer to "what's the error
    * bar on this metric" when classic resampling (n draws per
    * replicate, all data reshuffled B times) is impossible: each unit
    * independently receives a Poisson(1) weight per replicate, so ONE
    * pass computes all B resampled means.
    *
    * Engine-portable determinism: the replicate weight is the
    * Poisson(1) inverse CDF (literal thresholds, [[PoissonCdf]], tail
    * capped at 8) applied to the md5-uniform of (unit, rep) — the
    * [[graft.operators.Curation.weightedPrioritySample]] convention —
    * so any engine reproduces the exact weights. Per-unit values are
    * floor(v·quantScale) BIGINTs; per-(group, rep) Σw and Σw·qv are
    * exact; each replicate mean is one division; the CI bounds are
    * EXACT discrete order statistics of the B means (index
    * ⌊q·(B−1)⌋+1 of the ascending sort) and the bootstrap SE folds
    * over the SORTED means — everything hashes unrounded.
    *
    * Scale shape: one data-sized exchange to per-unit sums, one
    * B×units exchange to replicate means (B bounded ≤ 1000), one ≤
    * B-row in-row fold per group. Output: groups... + (n_units, mean,
    * ci_lo, ci_hi, se_boot). */
  def poissonBootstrapMean(df: DataFrame, groupCols: Seq[String],
      unitCol: Column, valueCol: Column, reps: Int = 100,
      quantScale: Double = 1e6, lo: Double = 0.025,
      hi: Double = 0.975): DataFrame = {
    require(reps >= 10 && reps <= 1000, s"reps in 10..1000, got $reps")
    require(quantScale >= 1e0 && quantScale <= 1e9,
      s"quantScale in [1e0, 1e9], got $quantScale")
    require(lo > 0.0 && lo < hi && hi < 1.0, s"need 0 < lo < hi < 1")
    val g = groupCols.map(col)
    val qv = when(valueCol.isNotNull,
      floor(valueCol.cast("double") * lit(quantScale)).cast("long"))
      .otherwise(0L)
    val perUnit = df.filter(unitCol.isNotNull)
      .groupBy(g :+ unitCol.cast("string").as("__unit"): _*)
      .agg(sum(qv).as("qv"))
    val full = perUnit.groupBy(g: _*)
      .agg(count(lit(1)).as("n_units"), sum(col("qv")).as("__sv"))
    // replicate weights: md5-uniform of (unit, rep) against the
    // literal Poisson(1) CDF — a pure threshold count
    val u = (conv(substring(md5(concat(col("__unit"), lit(":"),
      col("__rep").cast("string")).cast("binary")), 1, 15), 16, 10)
      .cast("long") + 1).cast("double") / lit(1152921504606846976.0)
    // reverse fold ⇒ the SMALLEST threshold is the outermost when(),
    // so the first matching threshold wins — inverse-CDF semantics
    val w = PoissonCdf.zipWithIndex.reverse.foldLeft(lit(8L)) {
      case (acc, (c, k)) => when(u <= lit(c), lit(k.toLong)).otherwise(acc)
    }
    val perRep = perUnit
      .withColumn("__rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__w", w)
      .groupBy(g :+ col("__rep"): _*)
      .agg(sum(col("__w")).as("nw"), sum(col("__w") * col("qv")).as("sw"))
      .withColumn("__mean", when(col("nw") > 0L,
        col("sw").cast("double") / col("nw").cast("double") /
          lit(quantScale)))
      .filter(col("__mean").isNotNull)
    val loIdx = math.floor(lo * (reps - 1)).toInt + 1
    val hiIdx = math.floor(hi * (reps - 1)).toInt + 1
    val means = sort_array(collect_list(col("__mean")))
    val folded = perRep.groupBy(g: _*)
      .agg(means.as("__ms"))
    val ms = col("__ms")
    val b = size(ms)
    // SE over the SORTED means: fixed-order folds, engine-mirrorable
    val mbar = aggregate(ms, lit(0.0), (a, x) => a + x) / b.cast("double")
    val ss = aggregate(ms, lit(0.0),
      (a, x) => a + (x - mbar) * (x - mbar))
    folded
      .join(full, groupCols, "inner")
      .select(g ++ Seq(
        col("n_units"),
        when(col("n_units") > 0L, col("__sv").cast("double") /
          col("n_units").cast("double") / lit(quantScale)).as("mean"),
        element_at(ms, least(lit(loIdx), b)).as("ci_lo"),
        element_at(ms, least(lit(hiIdx), b)).as("ci_hi"),
        when(b > 1, sqrt(ss / (b.cast("double") - lit(1.0))))
          .as("se_boot")): _*)
  }

  /** Benjamini–Hochberg FDR adjustment per group (Benjamini &
    * Hochberg, JRSS-B 1995) — the multiple-testing closer for the
    * drift/test family: running KS/χ²/rank tests over many slices
    * yields many p-values, and controlling the false-discovery rate is
    * what makes "K slices flagged" a defensible claim.
    *
    * adjusted(i) = min(1, min_{j ≥ i} p⁽ʲ⁾·n/j) over the ascending-p
    * ranking (ties broken by `idCol` so the ranking — and hence the
    * hash — is deterministic). The suffix minimum is an ORDER-
    * INSENSITIVE window min over (p·n/j), so the whole operator is two
    * windows on one exchange — no folds, no driver, engine-portable
    * with no rounding (·, / only).
    *
    * Output: groups... + (id, p, rank, p_adj). Rows with a null p are
    * DROPPED and excluded from n (the p·n/rank multiplier counts only
    * testable rows) — a null p-value is "no test ran", not a tie. */
  def bhAdjust(df: DataFrame, groupCols: Seq[String], idCol: Column,
      pCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*)
    val wRank = w.orderBy(col("p"), col("id"))
    val wSuffix = w.orderBy(col("rank"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.filter(pCol.isNotNull)
      .select(g :+ idCol.as("id") :+ pCol.cast("double").as("p"): _*)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("rank", row_number().over(wRank).cast("bigint"))
      .withColumn("__raw",
        col("p") * col("__n").cast("double") / col("rank").cast("double"))
      .withColumn("p_adj", least(lit(1.0), min(col("__raw")).over(wSuffix)))
      .drop("__n", "__raw")
  }
}
