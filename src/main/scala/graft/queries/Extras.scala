package graft.queries

import graft.Tables
import graft.operators.{Filters, RefCluster, Regions, Region}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational wave: the remaining SURVEY patterns that are cheap to
  * oracle — filter pipelines with exclusion accounting, the `.pivot()`
  * API, overflow histogram bins, J4-style dash-filled left joins, C12
  * mappings, O6 row-sum top-k, dedup survivor selection. */
object Extras {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** F1–F3 — the sequence-filter stack on documents: length band
    * (half-open), char-ratio cutoff; survivors counted per lang
    * (`/root/reference/Sequence_Filter.py:124–152`). */
  def f2FilterPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val banded = Filters.lengthBand(docs, col("n_chars"), refLen = 300, delta = 150)
    Filters.ambiguityFilter(banded, col("text"), cutoff = 0.05, ambiguous = "z")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** F1–F3 side output — one row per exclusion reason
    * (`/root/reference/Sequence_Filter.py:112–152` counters). */
  def f3ExclusionCounts(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("host",
      when(col("doc_id") % 7 === 0, "Other").otherwise("Human"))
    Filters.exclusionCounts(docs, col("host"), col("n_chars"), col("text"),
        refLen = 300, delta = 150, cutoff = 0.05)
      .orderBy("exclusion_reason")
  }

  /** A9 via the real `.pivot()` API with an explicit value list (never an
    * unbounded pivot — SURVEY §7.4 risk 5). */
  def a9PivotApi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_linenumber")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))
      .na.fill(0.0, Seq("A", "N", "R"))
      .orderBy("l_linenumber")

  /** A14 with the overflow bin exercised (`Greater than <last>`,
    * `/root/reference/Seq_Tools.py:135–148`). */
  def a14HistogramOverflow(s: SparkSession, dir: String): DataFrame =
    Filters.histogram(t(s, dir, "documents"), col("n_chars").cast("double"),
        Seq(0, 100, 200, 300).map(_.toDouble))
      .orderBy("bin")

  /** J4 — left join to a tiny code→info map with the `"-"` sentinel fill
    * (`/root/reference/Plotting_Functions.py:56–71`). */
  def j4DashFillLookup(s: SparkSession, dir: String): DataFrame = {
    val info = s.createDataFrame(Seq(
      ("purchase", "revenue"), ("refund", "revenue"), ("signup", "growth")))
      .toDF("event_type", "category")
    val counts = t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    counts.join(broadcast(info), Seq("event_type"), "left")
      .withColumn("category", coalesce(col("category"), lit("-")))
      .orderBy("event_type")
  }

  /** C12 — short→long mutation-type names over a derived type column
    * (`/root/reference/Plotting_Functions.py:1334–1354`). */
  def c12LongTypes(s: SparkSession, dir: String): DataFrame = {
    val typed = t(s, dir, "events").withColumn("t",
      element_at(array(lit("sub"), lit("del"), lit("ins"), lit("ext"), lit("delins")),
        (pmod(col("event_id"), lit(5)) + 1).cast("int")))
    RefCluster.longTypes(typed, "t")
      .groupBy("t", "t_long").agg(count(lit(1)).as("n"))
      .orderBy("t")
  }

  /** O6 — top-5 event types by row-sum of weekly frequencies
    * (`/root/reference/Plotting_Functions.py:700–713`). */
  def o6TopByRowSum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        graft.operators.TimeSeries.weekStart(to_date(col("ts"))).as("w"))
      .agg(count(lit(1)).as("freq"))
      .groupBy("event_type").agg(sum(col("freq")).as("total"))
      .orderBy(col("total").desc, col("event_type")).limit(5)

  /** A2 survivors — keep the representative (min id) per distinct content:
    * the "deduplicated corpus" output (md5-keyed here so DuckDB can mirror
    * it; the engine path uses xxhash64+sha256, Dedup.exactSurvivors). */
  def a2DedupSurvivors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"))
      .groupBy().agg(count(lit(1)).as("n_clusters"),
        sum(col("survivor_id")).as("survivor_id_sum"))

  /** A16 — distinct part names per size band (unique-variants-per-domain,
    * `/root/reference/Plotting_Functions.py:1320–1332`). */
  def a16UniquePerDomain(s: SparkSession, dir: String): DataFrame = {
    val banded = Regions.annotate(t(s, dir, "part"), "p_size",
      Seq(Region("small", 1, 10), Region("medium", 11, 25), Region("large", 26, 49)),
      "band")
    Regions.uniquePerDomain(banded, "band", "p_name")
      .orderBy("band")
  }

  /** W1 rank/dense_rank family beyond row_number — per-segment price rank
    * with ties (`/root/reference` has no rank, SURVEY W1 generalization). */
  def w1RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_orderpriority", "rnk", "o_orderkey")
  }

  /** The distribution-window family rounding out W1's rank trio:
    * ntile buckets, percent_rank, cume_dist. Both engines define
    * percent_rank = (rank−1)/(n−1) and cume_dist = peers≤/n as single
    * IEEE divisions of exact ints, so the floats hash bit-for-bit.
    * Restricted to one priority to keep the dump small. */
  def wDistributionFamily(s: SparkSession, dir: String): DataFrame = {
    // orderkey tie-break: NTILE splits ties by physical order, so the
    // window order must be TOTAL or buckets differ run to run
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("o_orderkey")
  }

  /** A6-family completion — explicit GROUPING SETS (the third face next
    * to a6's rollup and cube): an arbitrary combination list
    * ((flag, status), (flag), ()) in ONE Expand pass, not three scans
    * unioned. Null dimension values mark aggregated-out levels, exactly
    * as both engines define the operator. */
  def a6GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** U-family completion: EXCEPT ALL keeps multiplicity (a nationkey
    * appearing 5× among customers and 2× among suppliers survives 3×) —
    * the bag-semantics counterpart of u_intersect's set semantics. */
  def uExceptAll(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .exceptAll(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n_surviving"))
      .orderBy("nationkey")

  /** Skew — salted JOIN ([[graft.operators.Skew.saltedJoin]]): probe
    * rows salted, build side replicated per salt, join key widened to
    * (key, salt) so a hot key spreads over 8 reducers. The oracle runs
    * the PLAIN join — a match proves replication changes nothing
    * (quantities are int-valued doubles, so the sums are exact in any
    * grouping). */
  def jSkewSaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedJoin(
        t(s, dir, "lineitem"), col("l_orderkey"),
        t(s, dir, "orders"), col("o_orderkey"), salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Skew — two-phase salted aggregation must be value-identical to the
    * plain GROUP BY the oracle runs (quantities are int-valued doubles,
    * so partial sums are exact in any grouping). */
  def skewSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedAggregate(
        t(s, dir, "lineitem"), col("l_returnflag"), salts = 16,
        Map("sum_qty" -> col("l_quantity")))
      .withColumnRenamed("key", "l_returnflag")
      .select("l_returnflag", "n", "sum_qty")
      .orderBy("l_returnflag")

  /** JSON property extraction (beyond the reference's surface — the
    * `props` column is JSON): typed extraction + aggregation, codegen'd
    * via get_json_object, no UDF. */
  def jsonPropsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"), max(col("k")).as("k_max"))
      .orderBy("event_type")

  /** A6 generalization — two-dimension CUBE: all four grouping sets in one
    * shuffle, null cells labeled "All". */
  def a6CubeTwoDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("dow", dayofweek(to_date(col("ts"))))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("event_type"), lit("All")).as("event_type"),
        coalesce(col("dow"), lit(-1)).as("dow"), col("n"))
      .orderBy("event_type", "dow")

  /** C6 — calendar-month truncation (monthly rollups at the sink). */
  def c6MonthlyCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(trunc(to_date(col("ts")), "month").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .orderBy("month")

  /** Anti join — customers with no orders, counted per nation. */
  def jAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_idle"))
      .orderBy("c_nationkey")
  }

  /** Set intersection — nation keys having BOTH customers and suppliers. */
  def uIntersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** Exact median per group (both engines interpolate the middle pair). */
  def aMedianPrice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Exact-moment statistics ([[graft.operators.Stats.exactMoments]]):
    * per-flag variance/stddev of quantity and its correlation with line
    * number, from order-independent BIGINT moments plus a fixed float
    * tail of single IEEE ops — bit-identical across runs, plans, and
    * engines, unlike built-in `stddev`/`corr` whose floating partials
    * merge in plan order. */
  def aExactMoments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.exactMoments(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_linenumber"))
      .orderBy("l_returnflag")

  /** Incremental rollup maintenance
    * ([[graft.operators.Stats.momentPartials]]): lineitem arrives as two
    * disjoint "batches" (split on l_orderkey parity), each reduced ONCE
    * to per-flag BIGINT moment partials — the stored summary-table rows;
    * the partials merge component-wise and finalize through the same
    * fixed float tail. The oracle only ever sees the WHOLE table
    * (identical SQL to a_exact_moments), so a bit-exact match proves
    * merged-incremental == full recompute under any batch slicing —
    * history never rescanned. */
  def aIncrementalMoments(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val batches = Seq(li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 === 1))
    val partials = batches.map(b => graft.operators.Stats.momentPartials(
      b, Seq(col("l_returnflag")), col("l_quantity"), col("l_linenumber")))
    graft.operators.Stats.momentsFromPartials(
        graft.operators.Stats.mergeMomentPartials(partials,
          Seq("l_returnflag")))
      .orderBy("l_returnflag")
  }

  /** Large×large band join ([[Regions.bandJoin]]): event pairs with
    * values within 0.05 — the neighbor-bucket equi-join rewrite of a
    * theta join neither side of which could broadcast at scale. The
    * oracle runs the naive theta form; matching proves the bucket
    * decomposition finds every pair exactly once. */
  def jBandPairs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("event_id") < 400)
    val a = e.select(col("event_id").as("id_a"), col("value").as("va"))
    val b = e.select(col("event_id").as("id_b"), col("value").as("vb"))
    Regions.bandJoin(a, col("va"), b, col("vb"), delta = 0.05)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "va", "vb")
      .orderBy("id_a", "id_b")
  }

  /** Interval overlap join ([[Regions.intervalOverlapJoin]]) on
    * lineitem-derived closed intervals `[partkey, partkey + quantity]`:
    * the grid-cell equi-join with canonical-cell exactly-once emission,
    * oracled against the naive THETA join — a match proves the grid
    * decomposition finds every overlapping pair exactly once. Overlap
    * length is exact integer arithmetic. */
  def jIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey").as("id_a"), col("l_linenumber").as("ln_a"),
        col("l_partkey").as("s_a"),
        (col("l_partkey") + col("l_quantity").cast("long")).as("e_a"))
    val b = li.filter(col("l_orderkey") % 89 === 1)
      .select(col("l_orderkey").as("id_b"), col("l_linenumber").as("ln_b"),
        col("l_partkey").as("s_b"),
        (col("l_partkey") + col("l_quantity").cast("long")).as("e_b"))
    Regions.intervalOverlapJoin(a, col("s_a"), col("e_a"),
        b, col("s_b"), col("e_b"), grid = 16)
      .withColumn("overlap_len",
        least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
      .select("id_a", "ln_a", "id_b", "ln_b", "s_a", "e_a", "s_b", "e_b",
        "overlap_len")
      .orderBy("id_a", "ln_a", "id_b", "ln_b")
  }

  /** The literal TPC-H Q1 pricing-summary report — the canonical scan →
    * filter → wide aggregate. Money math is DECIMAL end to end (per-row
    * products exact, sums exact integers in scaled space, ONE final
    * double conversion per output column), so the floats hash
    * bit-for-bit against DuckDB — a float-typed sum here would be
    * accumulation-order-dependent and unhashable. */
  def aTpchQ1(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .withColumn("qty", col("l_quantity").cast("decimal(18,2)"))
      .withColumn("price", col("l_extendedprice").cast("decimal(18,2)"))
      .withColumn("disc", col("l_discount").cast("decimal(18,2)"))
      .withColumn("tax", col("l_tax").cast("decimal(18,2)"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("price")).cast("double").as("sum_base_price"),
        sum(col("price") * (lit(1).cast("decimal(18,2)") - col("disc")))
          .cast("double").as("sum_disc_price"),
        sum(col("price") * (lit(1).cast("decimal(18,2)") - col("disc")) *
            (lit(1).cast("decimal(18,2)") + col("tax")))
          .cast("double").as("sum_charge"),
        // averages as exact-sum ÷ count, NOT avg(): Spark's avg(decimal)
        // stays decimal while DuckDB's returns double — this explicit
        // tree is identical in both engines
        (sum(col("qty")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("price")).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("disc")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Twin of [[aExactMoments]] through the typed `Aggregator` UDAF
    * (integer-moment buffer, component-wise merge): bit-identical output,
    * so it shares the SAME oracle SQL — the UDAF path itself is what is
    * under test. */
  def aExactMomentsUdaf(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.exactMomentsTyped(t(s, dir, "lineitem"),
        col("l_returnflag"), col("l_quantity"), col("l_linenumber"))
      .orderBy("l_returnflag")

  /** One-pass column profile over mixed types (int, string, an
    * artificially-nullable string, date): [[graft.operators.Stats.profile]]
    * — one aggregation job, `stack`-unpivoted to long form. Also the
    * registry's unpivot/stack coverage. */
  def aProfileColumns(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      col("l_linenumber"), col("l_returnflag"),
      expr("nullif(l_returnflag, 'A')").as("flag_non_a"),
      col("l_shipdate").cast("date").as("ship_date"))
    graft.operators.Stats.profile(base,
        Seq("l_linenumber", "l_returnflag", "flag_non_a", "ship_date"))
      .orderBy("column")
  }

  /** Bloom-prefiltered selective join: lineitem is cut at the scan by a
    * codegen-native Bloom filter over the (few) selected part keys, then
    * the exact join removes the false positives — so the result is
    * byte-identical to the plain join the oracle runs, while the big
    * side's shuffle carries only ~|matching| + fpp·|lineitem| rows. */
  def jBloomPrefilterJoin(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part").filter(col("p_size") <= 2)
    val pruned = graft.operators.Bloom.prune(
      t(s, dir, "lineitem"), col("l_partkey"),
      part.select("p_partkey"), col("p_partkey"))
    pruned.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_size")
  }

  /** As-of (point-in-time) join over the events stream: each purchase
    * picks up the most recent prior view by the same user (view ties on
    * (user, ts) pre-aggregated to max value so both engines resolve them
    * identically). Oracle = DuckDB's native ASOF JOIN — an independent
    * algorithm checking the union+window formulation. */
  def jAsofPriorView(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("value")).as("view_value"))
    graft.operators.AsOf.asofJoin(purchases, views, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "view_ts",
        payloads = Seq("view_ts", "view_value"))
      .select(col("event_id"), col("user_id"),
        col("view_ts").as("prior_view_ts"),
        col("view_value").as("prior_view_value"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization of the events stream (30-minute timeout):
    * per (user, session) counts, bounds, and an exact decimal value
    * total. The batch face of streaming session_window (StreamingSpec
    * proves parity); oracle replays lag + running-sum in DuckDB. */
  def cSessionStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessions.sessionStats(t(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", maxGapSeconds = 1800,
        valueCol = col("value"))
      .orderBy("user_id", "session_idx")

  /** Rolling 3-day per-user event metrics — the RANGE-frame window face
    * (W1–W3 cover rank/rows frames; this is the time-interval frame):
    * for every event, how many events and how much value the user
    * produced in the trailing 3 days INCLUDING the current instant.
    * The frame key is integer microseconds (`unix_micros`), so both
    * engines resolve identical inclusive bounds and peer sets; the sum
    * is exact decimal with one final double cast. One exchange on
    * user_id; the range frame is evaluated over the same sort. */
  def wRolling3d(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__us"))
      .rangeBetween(-259200000000L, 0L)
    t(s, dir, "events")
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("n_3d", count(lit(1)).over(w))
      .withColumn("sum_3d",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("ts"), col("n_3d"),
        col("sum_3d"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Ordered funnel view → click → purchase over the events stream:
    * users counted at each step only if it happened at-or-after their
    * previous step's earliest completion. One exchange on user_id, k
    * stacked window-mins — no per-step self-joins. */
  def cFunnelSteps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessions.funnelSummary(t(s, dir, "events"),
      col("user_id"), col("ts"), col("event_type"),
      Seq("view", "click", "purchase"))

  /** SCD2 intervalization of the events stream: every event becomes a
    * half-open validity interval per user, tie-broken by event_id. */
  def cScd2Intervals(s: SparkSession, dir: String): DataFrame =
    graft.operators.AsOf.intervalize(
        t(s, dir, "events").select("user_id", "event_id", "ts", "value"),
        keys = Seq("user_id"), tsCol = "ts", tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("valid_from"),
        col("valid_to"), col("value"))
      .orderBy("user_id", "valid_from", "event_id")

  /** Exact interpolated percentiles per group — Spark's `percentile` and
    * DuckDB's `quantile_cont` share the definition (index = p·(n−1),
    * linear interpolation between floor/ceil neighbors), and on
    * integer-valued doubles the interpolation arithmetic is the same two
    * float ops in both engines, so the result hashes exactly. The scale
    * story: exact percentile sorts WITHIN each group only (partial
    * buffers merge), never globally. */
  def aPercentileFamily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"))
      .orderBy("l_returnflag")

  /** Mergeable log-bucket quantile sketch
    * ([[graft.operators.Sketches.quantileSketch]]) — the 100 TB
    * replacement for [[aPercentileFamily]]'s exact per-group sort:
    * price percentiles per return flag from TWO disjoint "daily
    * batches" (l_orderkey parity), each reduced once to ≤900·decades
    * bucket counters, merged by addition, quantiles read off the merged
    * cumulative histogram. The DuckDB oracle computes the same digit
    * buckets over the WHOLE table in one pass, so a bit-exact match
    * proves merge-of-partials == whole AND that the string-digit bucket
    * function is engine-portable (a float-log bucket would not be). */
  def aQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val li = t(s, dir, "lineitem")
    val Seq(b0, b1) = Seq(0, 1).map(p =>
      Sketches.quantileSketch(li.filter(col("l_orderkey") % 2 === p),
        Seq(col("l_returnflag")), col("l_extendedprice"), scale = 2))
    b0.merge(b1).quantiles(Seq(0.5, 0.9, 0.99))
      .orderBy("l_returnflag", "q")
  }

  /** Bounded top-k per group via [[graft.operators.Ranks.topKPerGroup]]'s
    * capped typed Aggregator — the scale replacement for the
    * `w1_top3_per_nation` window-rank shape: the exchange carries at most
    * k (ord, tie) pairs per group per input partition instead of every
    * row. The oracle is the window-rank definition itself, so a match
    * proves the aggregator selects the identical rows AND ranks. */
  def wTopkAggOrders(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranks.topKPerGroup(
        t(s, dir, "orders"), Seq("o_custkey"),
        col("o_totalprice"), col("o_orderkey"), k = 2,
        rankCol = "rn", ordName = "o_totalprice", tieName = "o_orderkey")
      .orderBy("o_custkey", "rn")

  /** Deterministic per-group sampling
    * ([[graft.operators.Ranks.samplePerGroup]]): 3 documents per lang by
    * smallest md5-derived 52-bit priority — a reservoir sample that is
    * reproducible across engines/partitionings (no RNG state), mirrored
    * in DuckDB by the same hex-digit fold the sketch oracles use. */
  def cSamplePerGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranks.samplePerGroup(
        t(s, dir, "documents"), Seq("lang"), col("doc_id"), n = 3,
        rankCol = "rn", priName = "pri", idName = "doc_id")
      .orderBy("lang", "rn")

  /** KMV distinct-count sketch ([[graft.operators.Sketches.kmvSketch]])
    * — the oracle-checkable cardinality sketch: distinct parts per
    * return flag estimated from TWO disjoint "daily batch" sketches
    * (l_orderkey parity) merged by union → re-min, next to the exact
    * count. The DuckDB oracle replays hash → k-distinct-min → the one
    * IEEE division over the WHOLE table, so a bit-exact match proves
    * merge-of-partials == whole AND estimator portability. */
  def aKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val li = t(s, dir, "lineitem")
    val Seq(b0, b1) = Seq(0, 1).map(p =>
      Sketches.kmvSketch(li.filter(col("l_orderkey") % 2 === p),
        Seq("l_returnflag"), col("l_partkey"), k = 64))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    b0.merge(b1).estimate.join(exact, Seq("l_returnflag"))
      .orderBy("l_returnflag")
  }

  /** Per-group OLS trend ([[graft.operators.Stats.groupOls]]): quantity
    * vs linenumber per return flag — integer-moment numerators and
    * denominators, fixed float tail, so slope/intercept/r² hash exactly
    * against the oracle's replay of the same algebra. */
  def aGroupOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.groupOls(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_linenumber"))
      .orderBy("l_returnflag")

  /** Per-group winsorization ([[graft.operators.Stats.winsorize]]):
    * document lengths clipped to each lang's [p05, p95]; the summary
    * keeps the checkable surface integer-or-selection-valued (clip
    * bounds via min/max, raised/lowered counts) so every column hashes
    * exactly — Spark `percentile` ≡ DuckDB `quantile_cont`. */
  def tWinsorizeChars(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.winsorize(t(s, dir, "documents"), Seq("lang"),
        col("n_chars").cast("double"), 0.05, 0.95, "clipped")
      .groupBy("lang").agg(
        min(col("clipped")).as("clip_min"),
        max(col("clipped")).as("clip_max"),
        sum(when(col("clipped") > col("n_chars"), 1L).otherwise(0L))
          .as("n_raised"),
        sum(when(col("clipped") < col("n_chars"), 1L).otherwise(0L))
          .as("n_lowered"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  /** χ² independence test ([[graft.operators.Stats.chiSquare2x2]]) on
    * the A12 contingency pair — exact BIGINT cells, det in BIGINT, all
    * later arithmetic in fixed-order doubles so chi2 hashes exactly. */
  def aChiSquare(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.chiSquare2x2(t(s, dir, "lineitem"),
      col("l_returnflag") === "R", col("l_linestatus") === "F")

  /** Per-group Gini concentration ([[graft.operators.Stats.gini]]) of
    * order quantities — exact BIGINT rank-weighted sums, one portable
    * closing division. */
  def aGiniQuantity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.gini(t(s, dir, "lineitem"),
        Seq("l_returnflag"), col("l_quantity"))
      .orderBy("l_returnflag")

  /** Welch's t per group ([[graft.operators.Stats.welchT]]): quantity
    * compared between finished and open line items, per return flag —
    * one conditional-moment pass, fixed float tail, exact hash match. */
  def aWelchT(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.welchT(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity"),
        col("l_linestatus") === "F")
      .orderBy("l_returnflag")

  /** Distribution drift ([[graft.operators.Stats.psi]]): PSI of document
    * length between even- and odd-id documents per lang, over fixed
    * 50/150/250/350 edges — exact BIGINT bin counts, fixed-order
    * contribution fold, so psi hashes exactly (the DuckDB mirror
    * replays the when-chain bins, the eps floor, and a list_reduce in
    * the same bin order). */
  def aPsiDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.psi(t(s, dir, "documents"), Seq(col("lang")),
        col("n_chars"), pmod(col("doc_id"), lit(2)) === 0,
        edges = Seq(50.0, 150.0, 250.0, 350.0))
      .withColumn("psi", round(col("psi"), 12)) // see aJsDivergence
      .orderBy("lang")

  /** Jensen-Shannon drift ([[graft.operators.Stats.jsDivergence]]):
    * the symmetric bounded sibling of a_psi_drift over the same fixed
    * edges and cohorts - no eps floor, zero-probability bins contribute
    * exactly 0. Same exact-count + fixed-order-fold construction, so
    * js hashes exactly. */
  def aJsDivergence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.jsDivergence(t(s, dir, "documents"),
        Seq(col("lang")), col("n_chars"),
        pmod(col("doc_id"), lit(2)) === 0,
        edges = Seq(50.0, 150.0, 250.0, 350.0))
      // ln() is correctly rounded on neither JVM nor libm: the engines
      // can differ in the last ulp (observed on one group at sf0.01),
      // so the REGISTERED faces of the ln-based divergences compare at
      // 12 decimals — far beyond any analytical use of the statistic
      .withColumn("js", round(col("js"), 12))
      .orderBy("lang")

  /** Distribution-free drift ([[graft.operators.Stats.ksStatistic]]):
    * two-sample KS of document length between even- and odd-id documents
    * per lang — the binless complement of a_psi_drift/a_js_divergence.
    * Exact BIGINT gap numerators and ONE closing division, so every
    * column including `ks` hashes exactly with no rounding. */
  def aKsDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ksStatistic(t(s, dir, "documents"),
        Seq(col("lang")), col("n_chars"),
        pmod(col("doc_id"), lit(2)) === 0)
      .orderBy("lang")

  /** The churn population every survival and concordance query below
    * observes: one subject per (user_id, event_type) episode of the
    * events table. duration = the episode's day span between its first
    * and last activity; churned = its last activity predates the corpus
    * maximum by more than 7 days (otherwise right-censored: still active
    * at the cutoff); risk = its event count. Per-user subjects would
    * never churn (every user stays active to the horizon at each test
    * scale); sparse event types genuinely end early, so events,
    * censoring, duration ties and risk ties all occur. Callers add their
    * own grouping column (`cohort` = "c" + user_id mod 3, or `g` =
    * "all") and extras; each oracle mirrors this as its `u` CTE grouped
    * BY user_id, event_type, crossed with the one-row `gmax` horizon. */
  private def churnEpisodes(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("ts").isNotNull)
    val episodes = e.groupBy(col("user_id"), col("event_type"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("double").as("duration"),
        max(to_date(col("ts"))).as("__last"),
        count(lit(1)).cast("double").as("risk"))
    val horizon = e.agg(max(to_date(col("ts"))).as("__gmax"))
    episodes.crossJoin(broadcast(horizon))
      .withColumn("churned", col("__last") < date_sub(col("__gmax"), 7))
  }

  /** Kaplan–Meier survival per cohort ([[graft.operators.Stats
    * .kaplanMeier]]) over the [[churnEpisodes]] population — both faces
    * derive the identical observations, so the estimator itself is
    * what the oracle checks. Cohort = user_id mod 3. survival is a
    * product of exact-count ratios (·, / only) — hashes unrounded; the
    * mirror replays the ascending-time recursion stepwise. */
  def cKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.kaplanMeier(obs, Seq("cohort"),
        col("duration"), col("churned"))
      .orderBy("cohort", "t")
  }

  /** Nelson–Aalen cumulative hazard per synthetic cohort ([[graft
    * .operators.Stats.nelsonAalen]]): the hazard-side readout of the
    * c_kaplan_meier fixture — same durations, same churn label, same
    * count grid, but H(t) = Σ d/n and its Σ d/n² variance accumulate
    * by an in-row ascending-time SUM fold (seed 0.0; the mirror steps
    * the identical recursion), so cum_hazard/var_hazard hash with no
    * rounding. */
  def cNelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.nelsonAalen(obs, Seq("cohort"),
        col("duration"), col("churned"))
      .orderBy("cohort", "t")
  }

  /** Two-cohort RMST difference at τ = 14 days ([[graft.operators
    * .Stats.rmstDiff]]): even vs odd users on the c_log_rank fixture —
    * per-cohort step integrals and Greenwood-type variances from two
    * in-row folds each, then one subtraction and one √; every column
    * hashes unrounded. */
  def cRmstDiff(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
    graft.operators.Stats.rmstDiff(obs, Seq("g"), col("duration"),
        col("churned"), pmod(col("user_id"), lit(2)) === 0, tau = 14.0)
      .orderBy("g")
  }

  /** Competing-risks cumulative incidence ([[graft.operators.Stats
    * .aalenJohansen]]): the c_log_rank observation fixture with churn
    * split into two competing causes (even vs odd episode event count) —
    * cause-specific exact counts per day, the AJ recursion carrying
    * (used, survival, cif1, cif2); all ops +,·,/ so every column
    * hashes unrounded. */
  def cCumInc(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
      .withColumn("cause", when(!col("churned"), 0)
        .otherwise(when(pmod(col("risk"), lit(2)) === 0, 1).otherwise(2)))
    graft.operators.Stats.aalenJohansen(obs, Seq("g"), col("duration"),
        col("cause"), nCauses = 2)
      .orderBy("g", "t", "cause")
  }

  /** Fleiss' multi-rater agreement ([[graft.operators.Stats
    * .fleissKappa]]): each user's first 3 events (by event_id — unique,
    * so the panel is deterministic) act as a 3-"rater" panel over the
    * event-type categories; users with fewer than 3 events drop so the
    * panel is constant. Exact BIGINT sums, two divisions, a subtraction
    * and one more division — hashes unrounded. */
  def aFleissKappa(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("event_id").isNotNull && col("event_type").isNotNull)
    val ranked = e.withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")))
      .filter(col("__rk") <= 3)
    val eligible = ranked.groupBy("user_id")
      .agg(count(lit(1)).as("__n")).filter(col("__n") === 3)
    val panel = ranked
      .join(eligible.select("user_id"), Seq("user_id"), "left_semi")
      .withColumn("g", lit("all"))
    graft.operators.Stats.fleissKappa(panel, Seq("g"), col("user_id"),
        col("event_type"))
      .orderBy("g")
  }

  /** Empirical-Bayes shrunken purchase rate per user
    * ([[graft.operators.Stats.ebShrinkRates]]): beta-binomial
    * method-of-moments prior over per-user purchase rates (exact
    * quantized moment sums), each user shrunk toward the prior mean in
    * proportion to evidence — all ops +,·,/ from exact integers,
    * hashes unrounded. */
  def aEbShrinkage(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("event_type").isNotNull)
    val perUser = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
      .withColumn("g", lit("all"))
    graft.operators.Stats.ebShrinkRates(perUser, Seq("g"),
        col("user_id"), col("n"), col("x"))
      .orderBy("id")
  }

  /** Krippendorff's α over the FULL unequal panels
    * ([[graft.operators.Stats.krippendorffAlpha]]): every event a user
    * has is a "rating" of that user by event type — panels vary from 1
    * to dozens, exactly the regime Fleiss rejects; single-event users
    * drop from the pairable mass. Per-item disagreement quantized to
    * BIGINT before the cross-item sum; tail +,·,/ — hashes
    * unrounded. */
  def aKrippendorff(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("event_type").isNotNull)
      .withColumn("g", lit("all"))
    graft.operators.Stats.krippendorffAlpha(e, Seq("g"),
        col("user_id"), col("event_type"))
      .orderBy("g")
  }

  /** CMH stratified test across event-type strata
    * ([[graft.operators.Stats.cmhTest]]): even/odd-user arms,
    * high-value outcome, event_type as the confounder strata — exact
    * per-stratum 2x2 counts, per-stratum terms folded in fixed
    * ascending-stratum order; +,·,/ only, hashes unrounded. */
  def aCmh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("value").isNotNull)
      .withColumn("g", lit("all"))
    graft.operators.Stats.cmhTest(e, Seq("g"), col("event_type"),
        pmod(col("user_id"), lit(2)) === 0, col("value") > 50.0)
      .orderBy("g")
  }

  /** Split-conformal threshold per language
    * ([[graft.operators.Stats.conformalThreshold]]): the
    * ceil((1-alpha)(n+1))-th smallest n_chars per lang at alpha=0.1 —
    * an exact order statistic selected by integer rank, no floats
    * beyond the scores; hashes unrounded. */
  def aConformal(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("lang").isNotNull &&
      col("n_chars").isNotNull)
    graft.operators.Stats.conformalThreshold(d, Seq("lang"),
        col("n_chars"), alpha = 0.1)
      .orderBy("lang")
  }

  /** Cronbach's α of a 3-signal length battery per language
    * ([[graft.operators.Stats.cronbachAlpha]]): n_chars, text length,
    * and space-stripped length co-vary strongly (one latent "document
    * size" trait), so the battery reads reliable; exact quantized
    * moment sums, fixed-order variance tail — hashes unrounded. */
  def tCronbach(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("lang").isNotNull &&
      col("text").isNotNull && col("n_chars").isNotNull)
    graft.operators.Stats.cronbachAlpha(d, Seq("lang"),
        Seq(col("n_chars").cast("double"),
          length(col("text")).cast("double"),
          length(regexp_replace(col("text"), " ", "")).cast("double")),
        quantScale = 1e6)
      .orderBy("lang")
  }

  /** The covariates of every logistic propensity fit here (a_logistic_fit
    * and the three ATE queries): scaled length (n_chars / 100) and
    * scaled English-stopword hits (/ 10) — the x1, x2 of the mirrors'
    * `dat` CTE. */
  private def propensityCovariates: Seq[Column] = {
    import graft.operators.{TextAnalysis => TA}
    Seq(col("n_chars").cast("double") / lit(100.0),
      TA.vocabHits(TA.wsTokens(lower(col("text"))), TA.EnStop)
        .cast("double") / lit(10.0))
  }

  /** Propensity-stratified ATE on documents ([[graft.operators.Stats
    * .propensityStratifiedAte]]): "treatment" = lang-en, propensity fit
    * on the a_logistic_fit features (scaled length + stopword hits),
    * outcome = scaled text length, 5 per-SOURCE NTILE strata tie-broken by doc_id (the partitioned exact-ranking exchange)
    * — the full composed causal pipeline, weights re-derived by the
    * mirror's unrolled Newton CTEs. */
  def cPropensityAte(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id").isNotNull &&
      col("source").isNotNull && col("text").isNotNull &&
      col("n_chars").isNotNull)
    graft.operators.Stats.propensityStratifiedAte(d, Seq("source"),
        propensityCovariates,
        coalesce(col("lang") === "en", lit(false)),
        length(col("text")).cast("double") / lit(100.0),
        col("doc_id"))
      .orderBy("source", "stratum")
  }

  /** IPW (Hajek) ATE on documents ([[graft.operators.Stats.ipwAte]]):
    * the same propensity chain as c_propensity_ate, smooth inverse
    * weights clipped to [0.01, 0.99], per-row weighted terms quantized
    * to exact BIGINTs — the readout is two BIGINT ratios and a
    * subtraction. */
  def cIpwAte(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull &&
      col("n_chars").isNotNull)
    graft.operators.Stats.ipwAte(d, propensityCovariates,
      coalesce(col("lang") === "en", lit(false)),
      length(col("text")).cast("double") / lit(100.0))
  }

  /** AIPW doubly-robust ATE on documents ([[graft.operators.Stats
    * .aipwAte]]): the c_ipw_ate setup plus per-arm closed-form OLS
    * outcome heads on (1, x1, x2) — normal-equation moments as exact
    * quantized BIGINTs, the same Cramer tree as the Newton step, and
    * a quantized per-row correction-term sum. */
  def cAipwAte(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull &&
      col("n_chars").isNotNull)
    graft.operators.Stats.aipwAte(d, propensityCovariates,
      coalesce(col("lang") === "en", lit(false)),
      length(col("text")).cast("double") / lit(100.0))
  }

  /** Cochran's Q over three per-user "detectors"
    * ([[graft.operators.Stats.cochranQ]]): did the user ever click /
    * purchase / view — three correlated binary judges on the same
    * items, complete blocks by construction; the all-integer Q is one
    * division of exact BIGINTs. */
  def aCochranQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("event_type").isNotNull)
    val flags = e.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("click"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchase"),
        max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("view"))
    val cells = flags.selectExpr("user_id",
      "stack(3, 'click', click, 'purchase', purchase, 'view', view) " +
        "as (judge, s)")
      .withColumn("g", lit("all"))
    graft.operators.Stats.cochranQ(cells, Seq("g"), col("user_id"),
        col("judge"), col("s") === 1L)
      .orderBy("g")
  }

  /** McNemar's paired comparison ([[graft.operators.Stats.mcnemar]]):
    * "ever purchased" vs "ever signed up" per user — only the
    * discordant users carry information; exact counts, one
    * division. */
  def aMcnemar(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("event_type").isNotNull)
    val flags = e.groupBy(col("user_id"))
      .agg(max(col("event_type") === "purchase").as("a"),
        max(col("event_type") === "signup").as("b"))
      .withColumn("g", lit("all"))
    graft.operators.Stats.mcnemar(flags, Seq("g"), col("a"),
        col("b"))
      .orderBy("g")
  }

  /** Stratified log-rank across user-parity strata
    * ([[graft.operators.Stats.stratifiedLogRank]]): the c_log_rank
    * observation fixture with user_id%3 as the confounder strata —
    * per-stratum (O−E, V) from the same recursion, folded in fixed
    * ascending-stratum order; +,·,/,√ only — hashes unrounded. */
  def cStratifiedLogRank(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
    graft.operators.Stats.stratifiedLogRank(obs, Seq("g"),
        pmod(col("user_id"), lit(3)), col("duration"), col("churned"),
        pmod(col("user_id"), lit(2)) === 0)
      .orderBy("g")
  }

  /** Always-valid p-value per event type ([[graft.operators.Stats
    * .msprt]]): the mixture-SPRT two-proportion readout on the a_sprt
    * fixture (even vs odd users, high-value outcome) — exact counts,
    * fixed float tail; lambda/p carry exp and round at 12dp, the
    * decision compares the unrounded p. */
  def aMsprt(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.msprt(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(2)) === 0,
        col("value") > 50.0, tauSq = 1e-4)
      .withColumn("lambda", round(col("lambda"), 12))
      .withColumn("p_always_valid", round(col("p_always_valid"), 12))
      .orderBy("event_type")

  /** Qini uplift curve per event type ([[graft.operators.Stats
    * .qiniCurve]]): events ranked by a deterministic pseudo-score
    * (Knuth-hash of event_id — uninformative by construction, so the
    * curve hugs the random baseline), even/odd-user arms, high-value
    * outcome; exact cumulative counts, +,·,/ tail — every column
    * hashes unrounded. */
  def aQiniCurve(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.qiniCurve(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull && col("event_id").isNotNull),
        Seq("event_type"), pmod(col("user_id"), lit(2)) === 0,
        col("value") > 50.0,
        pmod(col("event_id") * lit(2654435761L), lit(1000003L))
          .cast("double") / lit(1000003.0),
        col("event_id"))
      .orderBy("event_type", "bucket")

  /** Restricted mean survival time at τ = 14 days per cohort ([[graft
    * .operators.Stats.rmst]]): the KM step-function integral on the
    * c_kaplan_meier fixture — one more accumulator in the same fold;
    * all ops +,·,/, so rmst hashes unrounded. */
  def cRmst(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.rmst(obs, Seq("cohort"),
        col("duration"), col("churned"), tau = 14.0)
      .orderBy("cohort")
  }

  /** Wald SPRT per event type ([[graft.operators.Stats.sprt]]):
    * "is the high-value rate 0.55 rather than 0.45?" tested
    * sequentially with alpha 0.05 / beta 0.2 — exact counts, the ln
    * factors of the parameter literals, llr/bounds at 12dp (the ln
    * convention); the decision compares the unrounded llr. */
  def aSprt(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.sprt(
        t(s, dir, "events").filter(col("value").isNotNull),
        Seq(col("event_type")), col("value") > 50.0,
        p0 = 0.45, p1 = 0.55)
      .withColumn("llr", round(col("llr"), 12))
      .withColumn("bound_lo", round(col("lower"), 12))
      .withColumn("bound_hi", round(col("upper"), 12))
      .drop("lower", "upper")
      .select("event_type", "n", "x", "llr", "bound_lo", "bound_hi",
        "decision")
      .orderBy("event_type")

  /** Kaplan–Meier with Greenwood variance + linear 95% CI ([[graft
    * .operators.Stats.kaplanMeierGreenwood]]): the error-bar readout
    * on the c_kaplan_meier fixture — the Greenwood sum rides the same
    * ascending-time fold, and the CI is +,·,/,√-only (no log-log, no
    * libm), so every column hashes unrounded. */
  def cKmGreenwood(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.kaplanMeierGreenwood(obs, Seq("cohort"),
        col("duration"), col("churned"))
      .orderBy("cohort", "t")
  }

  /** Tarone–Ware weighted log-rank ([[graft.operators.Stats
    * .taroneWareLogRank]]): the √n-weighted middle of the weight
    * family on the c_log_rank fixture — IEEE √ is correctly rounded,
    * so oe/v/chi2/z hash unrounded like the other two tests. */
  def cTaroneWare(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
    graft.operators.Stats.taroneWareLogRank(obs, Seq("g"),
        col("duration"), col("churned"),
        pmod(col("user_id"), lit(2)) === 0)
      .orderBy("g")
  }

  /** Gehan–Breslow weighted log-rank ([[graft.operators.Stats
    * .gehanLogRank]]): the early-difference-weighted companion of
    * c_log_rank on the same even/odd-user cohort fixture — each O−E
    * contribution carries an n (and V an n²) factor inside the same
    * ascending-time fold, mirrored by the same recursive CTE shape. */
  def cGehanLogRank(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
    graft.operators.Stats.gehanLogRank(obs, Seq("g"), col("duration"),
        col("churned"), pmod(col("user_id"), lit(2)) === 0)
      .orderBy("g")
  }

  /** Delta-method uplift for a RATIO metric ([[graft.operators.Stats
    * .ratioUplift]]): revenue-per-view per user-id-mod-3 slice, even
    * vs odd users — per-user (purchase revenue, view count) sums are
    * floor(x·10³) BIGINTs, arm moments exact conditional sums, and
    * the delta-method tail a fixed float expression over their casts,
    * so every column hashes unrounded. */
  def aRatioUplift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ratioUplift(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("g", concat(lit("g"), pmod(col("user_id"), lit(3)))),
        Seq("g"), pmod(col("user_id"), lit(2)) === 0, col("user_id"),
        when(col("event_type") === "purchase", col("value")),
        when(col("event_type") === "view", lit(1.0)),
        quantScale = 1e3)
      .orderBy("g")

  /** Position-based + time-decay attribution baselines ([[graft
    * .operators.Attribution.positionAttribution]]) over the same
    * channel universe and conversion label as c_markov_attribution:
    * first/last are exact BIGINT counts; U-shaped and step-half-life
    * decay credits are per-touch floor(·10⁶) BIGINTs (the decay
    * weights are dyadic rationals — shift + one division, no libm in
    * the float contract), so every column hashes unrounded. */
  def cPositionAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.positionAttribution(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("event_type") === "purchase",
        Seq("click", "error", "signup", "view"), halfLifeDays = 7.0)
      .orderBy("channel")

  /** Exact Shapley-value channel attribution ([[graft.operators
    * .Attribution.shapley]]): purchases credited across the four
    * non-purchase touch channels by average marginal contribution over
    * all channel orderings. Every number up to the last division is an
    * exact BIGINT (integer conversion counts × factorial weights), so
    * phi_num hashes exactly and phi unrounded. */
  def cShapleyAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.shapley(t(s, dir, "events"),
        col("user_id"), col("event_type"),
        col("event_type") === "purchase",
        Seq("click", "error", "signup", "view"))
      .orderBy("channel")

  /** Quantile treatment effects per event type ([[graft.operators
    * .Stats.quantileTreatmentEffect]]): per-probability difference of
    * the even/odd arms' EXACT order statistics of value (accuracy ≥
    * any verification-SF arm size, the quantile_disc convention) —
    * actual data elements, so q_t/q_c/qte hash with no rounding. */
  def cQte(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.quantileTreatmentEffect(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq("event_type"), pmod(col("user_id"), lit(2)) === 0,
        col("value"), probs = Seq(0.25, 0.5, 0.75, 0.9),
        accuracy = 1000000)
      .orderBy("event_type", "prob")

  /** Difference-in-differences per event type ([[graft.operators
    * .Stats.diffInDiff]]): even/odd-user arms, post = second half of
    * the month (day > 15), value quantized at 1e3 — exact cell sums,
    * fixed float tail, all columns hash unrounded. */
  def cDiffInDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.diffInDiff(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("ts").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(2)) === 0,
        dayofmonth(to_date(col("ts"))) > 15, col("value"),
        quantScale = 1e3)
      .orderBy("event_type")

  /** Sample-ratio-mismatch check per event type ([[graft.operators
    * .Stats.srmCheck]]): the even/odd user split checked against its
    * designed 50/50 ratio — exact counts, fixed chi-square tail, all
    * columns hash unrounded. */
  def aSrmCheck(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.srmCheck(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(2)) === 0)
      .orderBy("event_type")

  /** Two-proportion uplift test per event type ([[graft.operators
    * .Stats.proportionUplift]]): even- vs odd-id users' high-value
    * rate (value > 50) — exact counts, algebraic z (IEEE sqrt), every
    * column hashes unrounded. */
  def aProportionUplift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.proportionUplift(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(2)) === 0,
        col("value") > lit(50.0))
      .orderBy("event_type")

  /** CUPED variance reduction per event type ([[graft.operators.Stats
    * .cuped]]): value adjusted by a synthetic correlated covariate
    * (0.8·value + event_id mod 7), quantScale 100 (the n·m wrap bound
    * at sf-scale group sizes); theta and both uplifts are fixed float
    * tails over exact BIGINT moments — all columns hash unrounded. */
  def cCuped(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cuped(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(2)) === 0,
        col("value"),
        col("value") * lit(0.8) + pmod(col("event_id"), lit(7))
          .cast("double"),
        quantScale = 100.0)
      .orderBy("event_type")

  /** Markov removal-effect attribution ([[graft.operators.Attribution
    * .markovRemoval]]): user touch paths in (ts, event_id) order over
    * the four non-purchase channels; 60 fixed value-iteration steps —
    * deterministic whether or not converged, so transition counts,
    * probabilities, and all three output probabilities hash unrounded
    * against the recursive-CTE mirror. */
  def cMarkovAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.markovRemoval(t(s, dir, "events"),
        col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("event_type") === "purchase",
        Seq("click", "error", "signup", "view"), iters = 60)
      .orderBy("channel")

  /** SQL mirror of the fixed-60-step Markov attribution: transition
    * counts → a 1-row pivoted probability frame → one value-iteration
    * recursion per variant (full + each channel pinned to 0), the
    * per-state updates written in the operator's exact term order. */
  private val markovOracle: String = {
    val ch = Seq("click", "error", "signup", "view")
    val k = ch.size
    val states = "START" +: ch // x0 = START, x(1+i) = channel i
    def tot(fi: Int) =
      s"COALESCE(SUM(n) FILTER (WHERE f = '${states(fi)}'), 0)"
    def cnt(fi: Int, t: String) =
      s"COALESCE(SUM(n) FILTER (WHERE f = '${states(fi)}' AND t = '$t'), 0)"
    val aggCols = (states.indices.map(fi => s"${tot(fi)} AS tot_$fi") ++
      (for (fi <- states.indices; ti <- 0 until k)
        yield s"${cnt(fi, ch(ti))} AS n_${fi}_$ti") ++
      states.indices.map(fi => s"${cnt(fi, "CONV")} AS n_${fi}_conv"))
      .mkString(",\n    ")
    def pCol(fi: Int, t: String) =
      s"CASE WHEN tot_$fi = 0 THEN CAST(0 AS DOUBLE) " +
        s"ELSE CAST(n_${fi}_$t AS DOUBLE) / CAST(tot_$fi AS DOUBLE) END"
    val pvCols = ((for (fi <- states.indices; ti <- 0 until k)
      yield s"${pCol(fi, ti.toString)} AS p_${fi}_$ti") ++
      states.indices.map(fi => s"${pCol(fi, "conv")} AS p_${fi}_conv"))
      .mkString(",\n    ")
    // one recursion per variant; removed = -1 is the full chain
    def recursion(name: String, removed: Int): String = {
      val seed = states.indices.map(i => s"CAST(0 AS DOUBLE) AS x$i")
        .mkString(", ")
      val updates = states.indices.map { fi =>
        val terms = (0 until k).map { ti =>
          val xRef = if (ti == removed) "CAST(0 AS DOUBLE)"
            else s"x${1 + ti}"
          s"p_${fi}_$ti * $xRef"
        } :+ s"p_${fi}_conv"
        val expr = terms.mkString(" + ")
        if (removed >= 0 && fi - 1 == removed) "CAST(0 AS DOUBLE)"
        else s"($expr)"
      }.mkString(",\n      ")
      s"""$name AS (
         |  SELECT 0 AS it, $seed
         |  UNION ALL
         |  SELECT it + 1,
         |      $updates
         |  FROM $name CROSS JOIN pv WHERE it < 60)""".stripMargin
    }
    val recursions = (recursion("it_full", -1) +:
      ch.indices.map(i => recursion(s"it_r$i", i))).mkString(",\n")
    val selects = ch.indices.map { i =>
      s"""SELECT '${ch(i)}' AS channel, f.x0 AS p_full, r.x0 AS p_removed,
         |  CASE WHEN f.x0 > 0 THEN CAST(1 AS DOUBLE) - r.x0 / f.x0 END
         |    AS removal_effect
         |FROM (SELECT x0 FROM it_full WHERE it = 60) f
         |CROSS JOIN (SELECT x0 FROM it_r$i WHERE it = 60) r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH RECURSIVE pu AS (SELECT user_id,
       |    list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)
       |      FILTER (WHERE event_type IN ('click','error','signup','view')
       |        AND ts IS NOT NULL) AS path,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cv
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |tr AS (
       |  SELECT 'START' AS f, path[1] AS t FROM pu WHERE len(path) > 0
       |  UNION ALL
       |  SELECT path[CAST(i AS INTEGER)], path[CAST(i + 1 AS INTEGER)]
       |  FROM pu, unnest(range(1, len(path))) AS u(i)
       |  WHERE len(path) > 0
       |  UNION ALL
       |  SELECT path[len(path)],
       |    CASE WHEN cv = 1 THEN 'CONV' ELSE 'NULL' END
       |  FROM pu WHERE len(path) > 0),
       |cn AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM tr GROUP BY 1, 2),
       |agg AS (SELECT
       |    $aggCols
       |  FROM cn),
       |pv AS (SELECT
       |    $pvCols
       |  FROM agg),
       |$recursions
       |$selects
       |ORDER BY channel""".stripMargin
  }

  /** Two-sample log-rank test ([[graft.operators.Stats.logRank]]) over
    * the same churn observations as [[cKaplanMeier]]: even- vs odd-id
    * users' survival compared across one global group — exact counts,
    * one in-row ascending-time fold, all outputs +,·,/,√-only so every
    * column hashes unrounded; the mirror replays the fold as a
    * recursive CTE. */
  def cLogRank(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("g", lit("all"))
    graft.operators.Stats.logRank(obs, Seq("g"), col("duration"),
        col("churned"), pmod(col("user_id"), lit(2)) === 0)
      .orderBy("g")
  }

  /** Benjamini–Hochberg FDR adjustment per lang ([[graft.operators
    * .Stats.bhAdjust]]): deterministic pseudo p-values from exact
    * doc_id integer arithmetic (Knuth multiplicative hash mod a prime,
    * one division), ranked ascending with id tie-breaks; p and p_adj
    * are ·,/-only — all columns hash unrounded. */
  def aBhFdr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.bhAdjust(
        t(s, dir, "documents").filter(col("doc_id") < 200)
          .withColumn("p",
            pmod(col("doc_id") * lit(2654435761L), lit(1000003L))
              .cast("double") / lit(1000003.0)),
        Seq("lang"), col("doc_id"), col("p"))
      .orderBy("lang", "rank")

  /** Nonparametric location-shift test ([[graft.operators.Stats
    * .mannWhitneyU]]): rank-sum U of document length between even- and
    * odd-id documents per lang — exact doubled-midrank BIGINTs, one
    * halving, and an algebraic z (IEEE sqrt is correctly rounded), so
    * every column hashes exactly with no rounding. */
  def aRankSum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mannWhitneyU(t(s, dir, "documents"),
        Seq(col("lang")), col("n_chars"),
        pmod(col("doc_id"), lit(2)) === 0)
      .orderBy("lang")

  /** Cliff's delta of length by doc-id parity per lang ([[graft
    * .operators.Stats.cliffsDelta]]): the effect-size companion to
    * a_rank_sum's z — 2·U₁/(n₁n₂) − 1 over the same exact midranks;
    * every column hashes unrounded. */
  def aCliffsDelta(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cliffsDelta(t(s, dir, "documents"),
        Seq(col("lang")), col("n_chars"),
        pmod(col("doc_id"), lit(2)) === 0)
      .orderBy("lang")

  /** Monotone value-over-time trend per event type ([[graft.operators
    * .Stats.spearmanCorr]]): Spearman rank correlation between event
    * time and value — the rank-correlation sibling of c_mann_kendall
    * (any monotone transform of either side leaves rho unchanged).
    * Centered doubled-midrank BIGINT sums and one algebraic float tail
    * (IEEE √ is correctly rounded), so every column including `rho`
    * hashes exactly with no rounding. */
  def aSpearmanCorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.spearmanCorr(t(s, dir, "events"),
        Seq(col("event_type")), col("ts"), col("value"))
      .orderBy("event_type")

  /** Wilson 95% score interval for the lang = 'en' rate per source
    * ([[graft.operators.Stats.wilsonInterval]]): exact counts, fixed
    * float tail with one √ — every column hashes unrounded. */
  def aWilsonCi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.wilsonInterval(t(s, dir, "documents"),
        Seq(col("source")), col("lang") === "en")
      .orderBy("source")

  /** Kruskal–Wallis H across event types per user stratum
    * ([[graft.operators.Stats.kruskalWallis]]): does `value`'s
    * distribution differ across the k = 5 event types — the k-sample
    * generalization of a_rank_sum. Exact doubled-midrank BIGINTs,
    * fixed level-order fold; h and h_adj hash unrounded. */
  def aKruskalWallis(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.kruskalWallis(t(s, dir, "events"),
        Seq(pmod(col("user_id"), lit(4)).as("grp")), col("event_type"),
        col("value"))
      .orderBy("grp")

  /** Categorical association per source ([[graft.operators.Stats
    * .contingencyStats]]): χ², Cramér's V, and mutual information
    * between language and the 100-char length band — the r×c
    * generalization of a_chi_square's 2×2. χ² and V are fixed-order
    * +,·,/,√ only and hash with NO rounding; `mi` carries ln, so the
    * registered face compares it at 12 decimals (the ln-ulp
    * convention). */
  def aContingencyProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.contingencyStats(t(s, dir, "documents"),
        Seq(col("source")), col("lang"),
        floor(col("n_chars") / 100).cast("bigint"))
      .withColumn("mi", round(col("mi"), 12))
      .orderBy("source")

  /** ROC AUC of document length as a predictor of lang = 'en' per
    * source ([[graft.operators.Stats.auc]]) — the evaluation face of
    * the same classifier-shaped fixture t_isotonic_calibration
    * calibrates. Rank arithmetic end to end (AUC = U/(n₁n₂) over the
    * exact doubled-midrank BIGINTs), so the float column is one
    * division and hashes exactly. */
  def aAucLength(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.auc(t(s, dir, "documents"),
        Seq(col("source")), col("n_chars"),
        coalesce(col("lang") === "en", lit(false)))
      .orderBy("source")

  /** Ranked-retrieval evaluation per source ([[graft.operators.Stats
    * .rankingMetrics]]): MRR / AP / NDCG@10 of the deterministic
    * pseudo-score ranking against lang = 'en' relevance — the ranking
    * triad beside a_auc_length's pairwise AUC. Ranks and AP terms are
    * exact (fixed-order fold of single divisions: no rounding); ndcg
    * carries log2, compared at 12 decimals (the ln-ulp convention). */
  def aRankingMetrics(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.rankingMetrics(t(s, dir, "documents"),
        Seq(col("source")), pseudoScore, col("doc_id"),
        coalesce(col("lang") === "en", lit(false)), k = 10)
      .withColumn("ndcg", round(col("ndcg"), 12))
      .orderBy("source")

  /** Deterministic pseudo-probability for the calibration faces: a
    * fixed integer formula over doc_id divided once — both engines
    * compute the identical double, so the quantized-score machinery is
    * tested without a transcendental in the fixture. */
  private def pseudoScore = (col("doc_id") * 37 % 1000).cast("double") /
    lit(1000.0)

  /** Calibration curve bins ([[graft.operators.Stats.reliabilityTable]])
    * of the pseudo-score against lang = 'en' per source — exact counts,
    * quantized score mass, conf/acc single divisions. */
  def aReliabilityBins(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.reliabilityTable(t(s, dir, "documents"),
        Seq(col("source")), pseudoScore,
        coalesce(col("lang") === "en", lit(false)))
      .orderBy("source", "bin")

  /** Brier + ECE per source ([[graft.operators.Stats.calibrationError]])
    * — the calibration half of classifier evaluation next to
    * a_auc_length's ranking half; quantized exact sums, fixed-order
    * bin fold. */
  def aCalibrationError(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.calibrationError(t(s, dir, "documents"),
        Seq(col("source")), pseudoScore,
        coalesce(col("lang") === "en", lit(false)))
      .orderBy("source")

  /** Trainable quality classifier ([[graft.operators.Stats
    * .logisticFit]]): 3 Newton iterations of logistic regression
    * predicting lang = 'en' from scaled length and English-stopword
    * hits — the supervised successor of the heuristic langid vote.
    * Per-iteration gradient/Hessian sums are exact quantized BIGINTs
    * (the micro-logit move), the 3×3 Cramer solve is a fixed
    * expression tree, so the fitted weights hash bit-for-bit; the
    * mirror unrolls the same three iterations as chained CTEs. */
  def aLogisticFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.logisticFit(t(s, dir, "documents"),
      propensityCovariates, coalesce(col("lang") === "en", lit(false)))

  /** Quality-score calibration ([[graft.operators.Stats.isotonicFit]]):
    * the monotone fit of P(lang = 'en' | binned length) per source —
    * the PAV step a classifier-threshold pipeline runs. Pool sums and
    * counts are exact BIGINTs (cross-multiplied merges, native
    * graft_pav kernel) and the unique confluent fit lets the oracle
    * replay PAV with a different merge order and still hash exactly. */
  def tIsotonicCalibration(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.isotonicFit(t(s, dir, "documents"),
        Seq(col("source")), floor(col("n_chars") / 50).cast("bigint"),
        // coalesce: a null lang must count as label 0 (like the oracle's
        // CASE WHEN), not silently drop the row
        coalesce((col("lang") === "en").cast("int"), lit(0)))
      .orderBy("source", "score")

  /** Incremental Welch's t ([[graft.operators.Stats.welchPartials]] →
    * merge → finalize): the corpus sliced into three disjoint batches by
    * orderkey mod, each aggregated once to its per-cohort BIGINT
    * conditional moments, merged, and finalized. The oracle only ever
    * sees the WHOLE table — hash-matching it proves batch slicing is
    * invisible (exact integer merge + the same fixed float tail as
    * a_welch_t). */
  def aWelchPartials(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val li = t(s, dir, "lineitem")
    val batches = (0 to 2).map(i =>
      Stats.welchPartials(li.filter(pmod(col("l_orderkey"), lit(3)) === i),
        Seq(col("l_returnflag")), col("l_quantity"),
        col("l_linestatus") === "F"))
    Stats.welchFromPartials(
        Stats.mergeWelchPartials(batches, Seq("l_returnflag")))
      .orderBy("l_returnflag")
  }

  /** KMV resemblance ([[graft.operators.Sketches.kmvJaccard]]): how
    * much do the part sets of finished vs open line items overlap, per
    * return flag — Broder's minwise estimator on the k-min union,
    * deterministic under the md5 family so the oracle replays hash →
    * per-cohort k-min → union k-min → membership fraction exactly. */
  def aKmvJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val li = t(s, dir, "lineitem")
    val Seq(sa, sb) = Seq(col("l_linestatus") === "F",
      col("l_linestatus") =!= "F").map(p =>
      Sketches.kmvSketch(li.filter(p), Seq("l_returnflag"),
        col("l_partkey"), k = 64))
    Sketches.kmvJaccard(sa, sb).orderBy("l_returnflag")
  }

  /** Group-sequential O'Brien–Fleming monitor per event type
    * ([[graft.operators.Stats.groupSequentialTest]]): 5 pre-registered
    * looks keyed by event_id mod 5, even/odd-user arms, high-value
    * outcome. Boundaries are the literal K=5 OBF constants scaled by
    * √(K/k) — the mirror recomputes the identical IEEE product, and
    * the z is the pooled two-proportion z over exact cumulative
    * BIGINTs; everything hashes unrounded. */
  def aGsBounds(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.groupSequentialTest(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull && col("event_id").isNotNull),
        Seq("event_type"), lit(1) + pmod(col("event_id"), lit(5)),
        pmod(col("user_id"), lit(2)) === 0, col("value") > 50.0,
        looks = 5, kind = "obf")
      .orderBy("event_type", "look")

  /** Jonckheere–Terpstra ordered trend per event type
    * ([[graft.operators.Stats.jonckheereTerpstra]]): dose = user_id
    * mod 4 (uninformative by construction, so JT ≈ μ), x = value.
    * The doubled statistic is an exact BIGINT from the densified
    * level×value grid; μ/σ/z are fixed-order float tails over exact
    * counts — every column hashes unrounded. */
  def aJonckheere(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.jonckheereTerpstra(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull),
        Seq(col("event_type")), pmod(col("user_id"), lit(4)),
        col("value"))
      .orderBy("event_type")

  /** Pocock win ratio per synthetic cohort ([[graft.operators.Stats
    * .winRatio]]): hierarchical (activity-span days, then event count)
    * composite per user, even/odd-user arms. The oracle is the NAIVE
    * cross-arm pair join — a genuine independence check that the
    * tiered Mann–Whitney strict counts equal direct enumeration.
    * log_wr rounds to 12 (libm log, the a_msprt convention); every
    * other column is exact-integer-backed. */
  def cWinRatio(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
      col("ts").isNotNull)
    // subject = (user, event_type) episode — the user domain alone is
    // ~150 ids; episodes give a real composite with heavy ties
    val users = e.groupBy(col("user_id"), col("event_type"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("double").as("dur"),
        count(lit(1)).cast("double").as("act"))
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.winRatio(users, Seq("cohort"),
        pmod(col("user_id"), lit(2)) === 0, Seq(col("dur"), col("act")))
      .withColumn("log_wr", round(col("log_wr"), 12))
      .orderBy("cohort")
  }

  /** Harrell's C-index per synthetic cohort ([[graft.operators
    * .Concordance.harrellC]]): the c_kaplan_meier fixture (duration =
    * activity span, churned = inactive 7 days before the horizon)
    * graded by risk = the episode's event count. The oracle is the NAIVE
    * comparable-pair join — independent enumeration against the
    * bucket-grid decomposition; counts are exact BIGINTs (doubled
    * concordance), c_index one division. */
  def cHarrellC(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Concordance.harrellC(obs, Seq("cohort"),
        col("duration"), col("churned"), col("risk"))
      .orderBy("cohort")
  }

  /** Cumulative/dynamic AUC(t) over the c_harrell_c fixture
    * ([[graft.operators.Concordance.aucT]]): horizon-sliced
    * case/control labels fed to the exact Mann–Whitney machinery —
    * BIGINT counts, one division, hashes unrounded. */
  def cAucT(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Concordance.aucT(obs, Seq("cohort"),
        col("duration"), col("churned"), col("risk"),
        Seq(15.0, 20.0, 25.0))
      .orderBy("cohort", "h")
  }

  /** IPCW Brier score over the same fixture ([[graft.operators
    * .Concordance.brierIpcw]]): predicted survival ŝ(h) = 1/(1 +
    * h/(1+risk)) (a deterministic monotone-in-risk curve), censoring
    * KM re-derived by the oracle's recursive CTE, Ĝ lookups by
    * correlated last-step subqueries, and the weighted squared terms
    * quantized to BIGINT before the only cross-row sum. */
  def cBrierT(s: SparkSession, dir: String): DataFrame = {
    val hs = Seq(15.0, 20.0, 25.0)
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
      .withColumn("pred", array(hs.map(h => lit(1.0) /
        (lit(1.0) + lit(h) / (lit(1.0) + col("risk")))): _*))
    graft.operators.Concordance.brierIpcw(obs, Seq("cohort"),
        col("duration"), col("churned"), col("pred"), hs)
      .orderBy("cohort", "h")
  }

  /** Uno's IPCW concordance at τ=25 over the same fixture
    * ([[graft.operators.Concordance.unoC]]): the oracle re-derives
    * the censoring KM by recursion, the per-index-cell doubled
    * credits by the naive pair join, and replays the identical
    * floor-quantized weight chain. */
  def cUnoC(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Concordance.unoC(obs, Seq("cohort"),
        col("duration"), col("churned"), col("risk"), tau = 25.0)
      .orderBy("cohort")
  }

  /** Tarone log-rank trend across ordered doses per synthetic cohort
    * ([[graft.operators.Stats.trendLogRank]]): dose = user_id mod 4
    * over the c_harrell_c episode fixture. Integer scores keep the
    * per-time score sums exact-in-double (order-free); U/V floor-
    * quantize per time so the cross-time sums are associative
    * BIGINTs the mirror replays. */
  def cTrendLogRank(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.trendLogRank(obs, Seq("cohort"),
        col("duration"), col("churned"), pmod(col("user_id"), lit(4)))
      .orderBy("cohort")
  }

  /** Survival-model one-calibration at h=25 over the episode fixture
    * ([[graft.operators.Concordance.survivalCalibration]]): predicted
    * event probability 1 − 1/(1 + 25/(1+risk)) in 5 deterministic
    * (pred, id)-ordered deciles; observed = 1 − per-decile KM at 25 —
    * the mirror replays the NTILE, the quantized prediction means,
    * and the per-decile KM recursion. */
  def cSurvCalibration(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
      .withColumn("pred", lit(1.0) - lit(1.0) /
        (lit(1.0) + lit(25.0) / (lit(1.0) + col("risk"))))
      .withColumn("sid", concat(col("user_id").cast("string"), lit("_"),
        col("event_type")))
    graft.operators.Concordance.survivalCalibration(obs, Seq("cohort"),
        col("duration"), col("churned"), col("pred"), col("sid"),
        horizon = 25.0, bins = 5)
      .orderBy("cohort", "bin")
  }

  /** Standardized event ratio per cohort against the pooled hazard
    * ([[graft.operators.Stats.smr]]): observed churn events vs the
    * expectation under the pooled Nelson–Aalen over each episode's
    * own follow-up; Vandenbroucke √-CI. The mirror replays the pooled
    * NA recursion, the step lookups, and the floor chain. */
  def cSmr(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Stats.smr(obs, Seq("cohort"), col("duration"),
        col("churned"))
      .orderBy("cohort")
  }

  /** Conditional survival over the KM fixture ([[graft.operators
    * .Concordance.conditionalSurvival]]): P(T > t₀+s | T > t₀) at
    * three (t₀, s) pairs — two step lookups on the KM grid and one
    * division; the mirror replays the recursion + lookups. */
  def cCondSurvival(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Concordance.conditionalSurvival(obs, Seq("cohort"),
        col("duration"), col("churned"),
        Seq((10.0, 5.0), (15.0, 10.0), (20.0, 5.0)))
      .orderBy("cohort", "t0", "s")
  }

  /** Uno-weighted AUC(t) over the c_auc_t fixture ([[graft.operators
    * .Concordance.aucTIpcw]]): case weights Ĝ(t⁻)⁻² floor-quantized,
    * controls unweighted (the common Ĝ(h)⁻² cancels); the mirror
    * replays the censoring-KM recursion, the per-case floor chain,
    * and the weighted doubled-credit window sums. */
  def cAucTIpcw(s: SparkSession, dir: String): DataFrame = {
    val obs = churnEpisodes(s, dir)
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(3))))
    graft.operators.Concordance.aucTIpcw(obs, Seq("cohort"),
        col("duration"), col("churned"), col("risk"),
        Seq(15.0, 20.0, 25.0))
      .orderBy("cohort", "h")
  }

  /** Partial AUC at FPR ≤ 0.2 per source ([[graft.operators.Stats
    * .partialAuc]]): the a_auc_length fixture restricted to the
    * hardest 20% of negatives — deterministic (score desc, doc_id)
    * selection, then the exact midrank machinery. */
  def aPartialAuc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.partialAuc(
        t(s, dir, "documents").filter(col("n_chars").isNotNull &&
          col("doc_id").isNotNull),
        Seq("source"), col("n_chars"),
        coalesce(col("lang") === "en", lit(false)), col("doc_id"),
        fpr = 0.2)
      .orderBy("source")

  /** Required per-arm sample size per event type ([[graft.operators
    * .Stats.requiredSampleSize]]): observed high-value rate as the
    * baseline, mde = 2pp at α=0.05 / power 0.8 — literal z constants,
    * exact counts, √-only tail. */
  def aSampleSize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.requiredSampleSize(
        t(s, dir, "events").filter(col("value").isNotNull),
        Seq(col("event_type")), col("value") > 50.0, mde = 0.02)
      .orderBy("event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a_partial_auc" -> (aPartialAuc _),
    "a_sample_size" -> (aSampleSize _),
    "c_auc_t_ipcw" -> (cAucTIpcw _),
    "c_cond_survival" -> (cCondSurvival _),
    "c_surv_calibration" -> (cSurvCalibration _),
    "c_smr" -> (cSmr _),
    "c_trend_logrank" -> (cTrendLogRank _),
    "c_uno_c" -> (cUnoC _),
    "c_auc_t" -> (cAucT _),
    "c_brier_t" -> (cBrierT _),
    "a_gs_bounds" -> (aGsBounds _),
    "a_jonckheere" -> (aJonckheere _),
    "c_win_ratio" -> (cWinRatio _),
    "c_harrell_c" -> (cHarrellC _),
    "a_kmv_jaccard" -> (aKmvJaccard _),
    "a_welch_t" -> (aWelchT _),
    "a_welch_partials" -> (aWelchPartials _),
    "a_psi_drift" -> (aPsiDrift _),
    "a_js_divergence" -> (aJsDivergence _),
    "a_ks_drift" -> (aKsDrift _),
    "c_kaplan_meier" -> (cKaplanMeier _),
    "c_log_rank" -> (cLogRank _),
    "c_nelson_aalen" -> (cNelsonAalen _),
    "c_gehan_logrank" -> (cGehanLogRank _),
    "c_km_greenwood" -> (cKmGreenwood _),
    "c_tarone_ware" -> (cTaroneWare _),
    "a_sprt" -> (aSprt _),
    "c_rmst" -> (cRmst _),
    "a_msprt" -> (aMsprt _),
    "a_qini_curve" -> (aQiniCurve _),
    "c_rmst_diff" -> (cRmstDiff _),
    "c_cuminc" -> (cCumInc _),
    "a_fleiss_kappa" -> (aFleissKappa _),
    "a_eb_shrinkage" -> (aEbShrinkage _),
    "a_krippendorff" -> (aKrippendorff _),
    "a_cmh" -> (aCmh _),
    "a_conformal" -> (aConformal _),
    "t_cronbach" -> (tCronbach _),
    "c_propensity_ate" -> (cPropensityAte _),
    "c_ipw_ate" -> (cIpwAte _),
    "c_aipw_ate" -> (cAipwAte _),
    "a_cochran_q" -> (aCochranQ _),
    "a_mcnemar" -> (aMcnemar _),
    "c_stratified_logrank" -> (cStratifiedLogRank _),
    "a_ratio_uplift" -> (aRatioUplift _),
    "c_position_attribution" -> (cPositionAttribution _),
    "c_shapley_attribution" -> (cShapleyAttribution _),
    "c_markov_attribution" -> (cMarkovAttribution _),
    "a_proportion_uplift" -> (aProportionUplift _),
    "a_srm_check" -> (aSrmCheck _),
    "c_diff_in_diff" -> (cDiffInDiff _),
    "c_qte" -> (cQte _),
    "c_cuped" -> (cCuped _),
    "a_bh_fdr" -> (aBhFdr _),
    "a_rank_sum" -> (aRankSum _),
    "a_spearman_corr" -> (aSpearmanCorr _),
    "a_wilson_ci" -> (aWilsonCi _),
    "a_kruskal_wallis" -> (aKruskalWallis _),
    "a_cliffs_delta" -> (aCliffsDelta _),
    "a_contingency_profile" -> (aContingencyProfile _),
    "a_ranking_metrics" -> (aRankingMetrics _),
    "a_auc_length" -> (aAucLength _),
    "a_logistic_fit" -> (aLogisticFit _),
    "a_reliability_bins" -> (aReliabilityBins _),
    "a_calibration_error" -> (aCalibrationError _),
    "t_isotonic_calibration" -> (tIsotonicCalibration _),
    "a_gini_quantity" -> (aGiniQuantity _),
    "a_chi_square" -> (aChiSquare _),
    "t_winsorize_chars" -> (tWinsorizeChars _),
    "a_group_ols" -> (aGroupOls _),
    "a_kmv_distinct" -> (aKmvDistinct _),
    "w_topk_agg_orders" -> (wTopkAggOrders _),
    "c_sample_per_group" -> (cSamplePerGroup _),
    "a_quantile_sketch" -> (aQuantileSketch _),
    "a_percentile_family" -> (aPercentileFamily _),
    "c_scd2_intervals" -> (cScd2Intervals _),
    "c_session_stats" -> (cSessionStats _),
    "c_funnel_steps" -> (cFunnelSteps _),
    "w_rolling_3d" -> (wRolling3d _),
    "j_interval_overlap" -> (jIntervalOverlap _),
    "j_asof_prior_view" -> (jAsofPriorView _),
    "j_bloom_prefilter_join" -> (jBloomPrefilterJoin _),
    "j_anti_join" -> (jAntiJoin _),
    "u_intersect" -> (uIntersect _),
    "a_median_price" -> (aMedianPrice _),
    "a_exact_moments" -> (aExactMoments _),
    "a6_grouping_sets" -> (a6GroupingSets _),
    "a_incremental_moments" -> (aIncrementalMoments _),
    "a_tpch_q1" -> (aTpchQ1 _),
    "j_band_pairs" -> (jBandPairs _),
    "a_exact_moments_udaf" -> (aExactMomentsUdaf _),
    "a_profile_columns" -> (aProfileColumns _),
    "a6_cube_two_dims" -> (a6CubeTwoDims _),
    "c6_monthly_counts" -> (c6MonthlyCounts _),
    "json_props_agg" -> (jsonPropsAgg _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "j_skew_salted_join" -> (jSkewSaltedJoin _),
    "f2_filter_pipeline" -> (f2FilterPipeline _),
    "f3_exclusion_counts" -> (f3ExclusionCounts _),
    "a9_pivot_api" -> (a9PivotApi _),
    "a14_histogram_overflow" -> (a14HistogramOverflow _),
    "j4_dash_fill_lookup" -> (j4DashFillLookup _),
    "c12_long_types" -> (c12LongTypes _),
    "o6_top_by_row_sum" -> (o6TopByRowSum _),
    "a2_dedup_survivors" -> (a2DedupSurvivors _),
    "a16_unique_per_domain" -> (a16UniquePerDomain _),
    "w1_rank_family" -> (w1RankFamily _),
    "w_distribution_family" -> (wDistributionFamily _),
    "u_except_all" -> (uExceptAll _),
  )

  private val exactMomentsSql =
    """WITH m AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT))
        |      AS BIGINT) AS syy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT))
        |      AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sx AS sum_x,
        |  CAST(sx AS DOUBLE) / n AS mean_x,
        |  CASE WHEN n > 1 THEN CAST(n * sxx - sx * sx AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE) END AS var_x,
        |  sqrt(CASE WHEN n > 1 THEN CAST(n * sxx - sx * sx AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE) END) AS stddev_x,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr_xy
        |FROM m ORDER BY 1""".stripMargin

  private val welchSql: String =
    """WITH m AS (SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sx1,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sxx1,
        |  CAST(SUM(CASE WHEN l_linestatus <> 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN l_linestatus <> 'F'
        |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sx2,
        |  CAST(SUM(CASE WHEN l_linestatus <> 'F'
        |    THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sxx2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n1, n2,
        |  CASE WHEN n1 > 0 THEN CAST(sx1 AS DOUBLE) / n1 END AS mean1,
        |  CASE WHEN n2 > 0 THEN CAST(sx2 AS DOUBLE) / n2 END AS mean2,
        |  CASE WHEN n1 > 1 AND n2 > 1 AND
        |    (CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE)
        |       / CAST(n1 * (n1 - 1) AS DOUBLE) / n1
        |     + CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)
        |       / CAST(n2 * (n2 - 1) AS DOUBLE) / n2) > 0 THEN
        |    (CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
        |      / sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE)
        |               / CAST(n1 * (n1 - 1) AS DOUBLE) / n1
        |             + CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)
        |               / CAST(n2 * (n2 - 1) AS DOUBLE) / n2)
        |  END AS t
        |FROM m ORDER BY 1""".stripMargin

  /** The logistic-fit Newton chain as SQL CTEs over a `dat` CTE of
    * (y, x1, x2): `w0` = 0, then three UNROLLED iterations (no recursive
    * aggregation over a recursive reference — engines restrict that).
    * Iteration i takes quantized BIGINT gradient/Hessian sums under
    * w_{i-1} (`a<i>`), dequantizes them (`s<i>`) and runs the
    * fixed-order symmetric 3×3 Cramer solve (`d<i>`), producing `w<i>`
    * — the chain `Stats.logisticFit`/`solveFixed` runs. The
    * a_logistic_fit, c_propensity_ate, c_ipw_ate and c_aipw_ate mirrors
    * all read the fitted weights from `w3`. */
  private def newtonChainSql: String = {
    val S = "1000000.0"
    def iter(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""a$i AS (SELECT
         |    SUM(CAST(floor((y - p) * $S) AS BIGINT)) AS q_g0,
         |    SUM(CAST(floor(((y - p) * x1) * $S) AS BIGINT)) AS q_g1,
         |    SUM(CAST(floor(((y - p) * x2) * $S) AS BIGINT)) AS q_g2,
         |    SUM(CAST(floor((p * (1.0 - p)) * $S) AS BIGINT)) AS q_h00,
         |    SUM(CAST(floor(((p * (1.0 - p)) * x1) * $S) AS BIGINT)) AS q_h01,
         |    SUM(CAST(floor(((p * (1.0 - p)) * x2) * $S) AS BIGINT)) AS q_h02,
         |    SUM(CAST(floor((((p * (1.0 - p)) * x1) * x1) * $S) AS BIGINT)) AS q_h11,
         |    SUM(CAST(floor((((p * (1.0 - p)) * x1) * x2) * $S) AS BIGINT)) AS q_h12,
         |    SUM(CAST(floor((((p * (1.0 - p)) * x2) * x2) * $S) AS BIGINT)) AS q_h22
         |  FROM (SELECT y, x1, x2,
         |      1.0 / (1.0 + exp(-((1.0 * b0 + x1 * b1) + x2 * b2))) AS p
         |    FROM dat CROSS JOIN $prev) q),
         |s$i AS (SELECT b0, b1, b2,
         |    CAST(q_g0 AS DOUBLE) / $S AS g0,
         |    CAST(q_g1 AS DOUBLE) / $S AS g1,
         |    CAST(q_g2 AS DOUBLE) / $S AS g2,
         |    CAST(q_h00 AS DOUBLE) / $S AS a00,
         |    CAST(q_h01 AS DOUBLE) / $S AS a01,
         |    CAST(q_h02 AS DOUBLE) / $S AS a02,
         |    CAST(q_h11 AS DOUBLE) / $S AS a11,
         |    CAST(q_h12 AS DOUBLE) / $S AS a12,
         |    CAST(q_h22 AS DOUBLE) / $S AS a22
         |  FROM a$i CROSS JOIN $prev),
         |d$i AS (SELECT b0, b1, b2, g0, g1, g2,
         |    a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02)
         |      + a02 * (a01 * a12 - a11 * a02) AS det,
         |    g0 * (a11 * a22 - a12 * a12) - a01 * (g1 * a22 - a12 * g2)
         |      + a02 * (g1 * a12 - a11 * g2) AS dt0,
         |    a00 * (g1 * a22 - a12 * g2) - g0 * (a01 * a22 - a12 * a02)
         |      + a02 * (a01 * g2 - g1 * a02) AS dt1,
         |    a00 * (a11 * g2 - g1 * a12) - a01 * (a01 * g2 - g1 * a02)
         |      + g0 * (a01 * a12 - a11 * a02) AS dt2
         |  FROM s$i),
         |w$i AS (SELECT b0 + dt0 / det AS b0, b1 + dt1 / det AS b1,
         |    b2 + dt2 / det AS b2 FROM d$i)""".stripMargin
    }
    ("w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)" +: (1 to 3).map(iter))
      .mkString(",\n")
  }

  /** The (y, x1, x2) columns of the Newton-chain mirrors' `dat` CTE:
    * y = lang-en, x1/x2 = the SQL twin of [[propensityCovariates]]. */
  private def newtonDatXs: String =
    s"""    CASE WHEN COALESCE(lang = 'en', FALSE) THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(n_chars AS DOUBLE) / 100.0 AS x1,
       |    CAST(length(list_filter(
       |        string_split_regex(trim(lower(text)), '\\s+'),
       |        x -> list_contains(
       |          ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that'], x)))
       |      AS DOUBLE) / 10.0 AS x2""".stripMargin

  /** a_logistic_fit mirror: [[newtonChainSql]] over the documents'
    * [[newtonDatXs]]. Multiplications by the intercept's 1.0 are dropped
    * on both sides (IEEE-exact no-ops). */
  private val logisticFitOracle: String =
    s"""WITH dat AS (SELECT
       |$newtonDatXs
       |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       |$newtonChainSql
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dat) AS n,
       |  b0 AS w0, b1 AS w1, b2 AS w2 FROM w3""".stripMargin

  /** c_propensity_ate mirror: the a_logistic_fit Newton chain verbatim
    * (same dat features, same quantized sums, same Cramer solve), then
    * the same sigmoid scoring, NTILE(5) ORDER BY (p, id), exact
    * quantized per-stratum outcome masses, and the ascending-stratum
    * list_reduce fold with zero entries for one-armed strata. */
  private val propensityAteOracle: String =
    s"""WITH dat AS (SELECT doc_id AS id, source AS grp,
       |$newtonDatXs,
       |    COALESCE(lang = 'en', FALSE) AS t,
       |    CAST(LENGTH(text) AS DOUBLE) / 100.0 AS y2
       |  FROM documents WHERE doc_id IS NOT NULL
       |    AND source IS NOT NULL
       |    AND n_chars IS NOT NULL AND text IS NOT NULL),
       |$newtonChainSql,
       |sc AS (SELECT grp, id, t, y2,
       |    1.0 / (1.0 + exp(-((1.0 * b0 + x1 * b1) + x2 * b2))) AS p
       |  FROM dat CROSS JOIN w3),
       |st AS (SELECT grp, id, t, y2,
       |    NTILE(5) OVER (PARTITION BY grp ORDER BY p, id) AS s
       |  FROM sc),
       |cell AS (SELECT grp, s,
       |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(SUM(CASE WHEN t THEN CAST(floor(y2
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS qt,
       |    CAST(SUM(CASE WHEN NOT t THEN CAST(floor(y2
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS qc
       |  FROM st GROUP BY 1, 2),
       |nv AS (SELECT grp, CAST(SUM(CASE WHEN n_t > 0 AND n_c > 0
       |    THEN n_t + n_c ELSE 0 END) AS BIGINT) AS nvv
       |  FROM cell GROUP BY 1),
       |at AS (SELECT cell.grp, list_reduce(list(
       |    CASE WHEN n_t > 0 AND n_c > 0 THEN
       |      (CAST(n_t + n_c AS DOUBLE) / CAST(nvv AS DOUBLE))
       |      * ((CAST(qt AS DOUBLE) / CAST(1000000 AS DOUBLE))
       |          / CAST(n_t AS DOUBLE)
       |        - (CAST(qc AS DOUBLE) / CAST(1000000 AS DOUBLE))
       |          / CAST(n_c AS DOUBLE))
       |    ELSE CAST(0 AS DOUBLE) END ORDER BY s),
       |    (a, b) -> a + b) AS ate
       |  FROM cell JOIN nv ON nv.grp = cell.grp GROUP BY 1, nvv)
       |SELECT cell.grp AS source, CAST(s AS INTEGER) AS stratum,
       |  n_t + n_c AS n, n_t, n_c,
       |  CASE WHEN n_t > 0 THEN (CAST(qt AS DOUBLE)
       |    / CAST(1000000 AS DOUBLE)) / CAST(n_t AS DOUBLE) END
       |    AS mean_t,
       |  CASE WHEN n_c > 0 THEN (CAST(qc AS DOUBLE)
       |    / CAST(1000000 AS DOUBLE)) / CAST(n_c AS DOUBLE) END
       |    AS mean_c,
       |  CASE WHEN n_t > 0 AND n_c > 0 THEN
       |    (CAST(qt AS DOUBLE) / CAST(1000000 AS DOUBLE))
       |      / CAST(n_t AS DOUBLE)
       |    - (CAST(qc AS DOUBLE) / CAST(1000000 AS DOUBLE))
       |      / CAST(n_c AS DOUBLE) END AS diff,
       |  ate
       |FROM cell JOIN at ON at.grp = cell.grp
       |ORDER BY source, stratum""".stripMargin

  /** c_ipw_ate mirror: the same Newton chain (no doc_id filter — the
    * estimator needs no id), clipped sigmoid weights, quantized
    * weighted sums, two BIGINT ratios and a subtraction. */
  private val ipwAteOracle: String = {
    val S = "1000000.0"
    s"""WITH dat AS (SELECT
       |$newtonDatXs,
       |    COALESCE(lang = 'en', FALSE) AS t,
       |    CAST(LENGTH(text) AS DOUBLE) / 100.0 AS y2
       |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       |$newtonChainSql,
       |sc AS (SELECT t, y2,
       |    least(greatest(1.0 / (1.0 + exp(-((1.0 * b0 + x1 * b1)
       |        + x2 * b2))), CAST(0.01 AS DOUBLE)),
       |      CAST(0.99 AS DOUBLE)) AS e
       |  FROM dat CROSS JOIN w3)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |  CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |  CAST(SUM(CASE WHEN t THEN CAST(floor((y2 / e) * $S) AS BIGINT)
       |      ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN t THEN CAST(floor((1.0 / e) * $S)
       |      AS BIGINT) ELSE 0 END) AS DOUBLE) AS mean_t_w,
       |  CAST(SUM(CASE WHEN NOT t THEN CAST(floor((y2 / (1.0 - e))
       |      * $S) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN NOT t THEN CAST(floor((1.0 / (1.0 - e))
       |      * $S) AS BIGINT) ELSE 0 END) AS DOUBLE) AS mean_c_w,
       |  CAST(SUM(CASE WHEN t THEN CAST(floor((y2 / e) * $S) AS BIGINT)
       |      ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN t THEN CAST(floor((1.0 / e) * $S)
       |      AS BIGINT) ELSE 0 END) AS DOUBLE)
       |  - CAST(SUM(CASE WHEN NOT t THEN CAST(floor((y2 / (1.0 - e))
       |      * $S) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN NOT t THEN CAST(floor((1.0 / (1.0 - e))
       |      * $S) AS BIGINT) ELSE 0 END) AS DOUBLE) AS ate
       |FROM sc""".stripMargin
  }

  /** c_aipw_ate mirror: the ipw chain plus per-arm OLS heads — exact
    * quantized normal-equation moments in one conditional pass, the
    * same symmetric 3x3 Cramer tree as the Newton solve, then the
    * quantized per-row AIPW term sum. */
  private val aipwAteOracle: String = {
    val S = "1000000.0"
    def headCramer(p: String): String =
      s"""    ${p}g0 * (${p}a11 * ${p}a22 - ${p}a12 * ${p}a12)
         |      - ${p}a01 * (${p}g1 * ${p}a22 - ${p}a12 * ${p}g2)
         |      + ${p}a02 * (${p}g1 * ${p}a12 - ${p}a11 * ${p}g2) AS ${p}d0,
         |    ${p}a00 * (${p}g1 * ${p}a22 - ${p}a12 * ${p}g2)
         |      - ${p}g0 * (${p}a01 * ${p}a22 - ${p}a12 * ${p}a02)
         |      + ${p}a02 * (${p}a01 * ${p}g2 - ${p}g1 * ${p}a02) AS ${p}d1,
         |    ${p}a00 * (${p}a11 * ${p}g2 - ${p}g1 * ${p}a12)
         |      - ${p}a01 * (${p}a01 * ${p}g2 - ${p}g1 * ${p}a02)
         |      + ${p}g0 * (${p}a01 * ${p}a12 - ${p}a11 * ${p}a02) AS ${p}d2,
         |    ${p}a00 * (${p}a11 * ${p}a22 - ${p}a12 * ${p}a12)
         |      - ${p}a01 * (${p}a01 * ${p}a22 - ${p}a12 * ${p}a02)
         |      + ${p}a02 * (${p}a01 * ${p}a12 - ${p}a11 * ${p}a02)
         |      AS ${p}det""".stripMargin
    def headMoments(p: String, cond: String): String =
      s"""    CAST(SUM(CASE WHEN $cond THEN CAST(floor((1.0 * 1.0) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a00,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((1.0 * x1) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a01,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((1.0 * x2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a02,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((x1 * x1) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a11,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((x1 * x2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a12,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((x2 * x2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}a22,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((1.0 * y2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}g0,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((x1 * y2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}g1,
         |    CAST(SUM(CASE WHEN $cond THEN CAST(floor((x2 * y2) * $S)
         |      AS BIGINT) ELSE 0 END) AS DOUBLE) / $S AS ${p}g2""".stripMargin
    s"""WITH dat AS (SELECT
       |$newtonDatXs,
       |    COALESCE(lang = 'en', FALSE) AS t,
       |    CAST(LENGTH(text) AS DOUBLE) / 100.0 AS y2
       |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       |$newtonChainSql,
       |hm AS (SELECT
       |${headMoments("t_", "t")},
       |${headMoments("c_", "NOT t")}
       |  FROM dat),
       |hw AS (SELECT
       |${headCramer("t_")},
       |${headCramer("c_")}
       |  FROM hm),
       |hv AS (SELECT t_d0 / t_det AS tw0, t_d1 / t_det AS tw1,
       |    t_d2 / t_det AS tw2, c_d0 / c_det AS cw0,
       |    c_d1 / c_det AS cw1, c_d2 / c_det AS cw2 FROM hw),
       |sc AS (SELECT t, y2,
       |    least(greatest(1.0 / (1.0 + exp(-((1.0 * b0 + x1 * b1)
       |        + x2 * b2))), CAST(0.01 AS DOUBLE)),
       |      CAST(0.99 AS DOUBLE)) AS e,
       |    (1.0 * tw0 + x1 * tw1) + x2 * tw2 AS m1,
       |    (1.0 * cw0 + x1 * cw1) + x2 * cw2 AS m0
       |  FROM dat CROSS JOIN w3 CROSS JOIN hv)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |  CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |  (CAST(SUM(CAST(floor((((m1 - m0)
       |      + (CASE WHEN t THEN (y2 - m1) / e ELSE 0.0 END))
       |      - (CASE WHEN NOT t THEN (y2 - m0) / (1.0 - e)
       |        ELSE 0.0 END)) * $S) AS BIGINT)) AS DOUBLE) / $S)
       |    / CAST(COUNT(*) AS DOUBLE) AS ate
       |FROM sc""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // partial-AUC mirror: deterministic hard-negative selection +
    // the doubled-midrank machinery on the restricted pool
    "a_partial_auc" ->
      """WITH b AS (SELECT source, CAST(n_chars AS DOUBLE) AS s,
        |    COALESCE(lang = 'en', FALSE) AS l, doc_id
        |  FROM documents WHERE n_chars IS NOT NULL
        |    AND doc_id IS NOT NULL),
        |neg AS (SELECT source, s, l,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
        |      AS nneg
        |  FROM b WHERE NOT l),
        |keep AS (SELECT source, s, l FROM neg
        |  WHERE rn <= CAST(FLOOR(CAST(nneg AS DOUBLE) * 0.2)
        |    AS BIGINT)),
        |pool AS (SELECT source, s, l FROM b WHERE l
        |  UNION ALL SELECT source, s, l FROM keep),
        |d AS (SELECT source, s AS x,
        |    CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT l THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM pool GROUP BY 1, 2),
        |w AS (SELECT source, c1, c2, t,
        |    CAST(SUM(t) OVER (PARTITION BY source ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |a AS (SELECT source, CAST(SUM(c1) AS BIGINT) AS n_pos,
        |    CAST(SUM(c2) AS BIGINT) AS k_neg,
        |    CAST(SUM(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1_x2
        |  FROM w GROUP BY 1),
        |nt AS (SELECT source, CAST(MAX(nneg) AS BIGINT) AS n_neg
        |  FROM neg GROUP BY 1)
        |SELECT a.source, n_pos, COALESCE(n_neg, 0) AS n_neg, k_neg,
        |  CASE WHEN n_pos > 0 AND k_neg > 0 THEN
        |    (CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(k_neg AS DOUBLE))
        |  END AS pauc
        |FROM a LEFT JOIN nt ON a.source = nt.source
        |ORDER BY a.source""".stripMargin,
    // sample-size mirror: literal z constants + the same fixed-order
    // normal-approximation formula over exact counts
    "a_sample_size" ->
      """WITH agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, n, x,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p1
        |  FROM agg)
        |SELECT event_type, n, x, p1 AS p_hat,
        |  CAST(0.02 AS DOUBLE) AS mde,
        |  CASE WHEN p1 > 0.0 AND p1 < 1.0 AND p1 + 0.02 > 0.0
        |      AND p1 + 0.02 < 1.0 THEN
        |    CAST(CEIL(
        |      (1.959963984540054 * SQRT(2.0 * ((p1 + (p1 + 0.02)) / 2.0)
        |          * (1.0 - (p1 + (p1 + 0.02)) / 2.0))
        |        + 0.8416212335705798 * SQRT(p1 * (1.0 - p1)
        |          + (p1 + 0.02) * (1.0 - (p1 + 0.02))))
        |      * (1.959963984540054 * SQRT(2.0 * ((p1 + (p1 + 0.02)) / 2.0)
        |          * (1.0 - (p1 + (p1 + 0.02)) / 2.0))
        |        + 0.8416212335705798 * SQRT(p1 * (1.0 - p1)
        |          + (p1 + 0.02) * (1.0 - (p1 + 0.02))))
        |      / (0.02 * 0.02)) AS BIGINT)
        |  END AS n_required
        |FROM f ORDER BY event_type""".stripMargin,
    // Uno-weighted AUC(t) mirror: censoring-KM recursion, per-case
    // quantized weights, weighted doubled-credit window sums
    "c_auc_t_ipcw" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev, risk
        |  FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS t
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1),
        |lab AS (SELECT cohort, h, risk, duration,
        |    duration <= h AND ev AS is_case
        |  FROM obs CROSS JOIN (VALUES (CAST(15.0 AS DOUBLE)),
        |    (CAST(20.0 AS DOUBLE)), (CAST(25.0 AS DOUBLE))) AS hs(h)
        |  WHERE (duration <= h AND ev) OR duration > h),
        |rows2 AS (SELECT cohort, h, risk AS x,
        |    CASE WHEN is_case THEN CAST(FLOOR((1.0 / (gtm * gtm))
        |      * 1000000.0) AS BIGINT) ELSE 0 END AS qa,
        |    CASE WHEN is_case THEN 0 ELSE 1 END AS c2,
        |    CASE WHEN is_case THEN 1 ELSE 0 END AS c1
        |  FROM (SELECT l.*, COALESCE((SELECT km.p FROM km
        |      WHERE km.cohort = l.cohort AND km.i > 0
        |        AND km.t < l.duration
        |      ORDER BY km.t DESC LIMIT 1), 1.0) AS gtm
        |    FROM lab l) s),
        |cells AS (SELECT cohort, h, x, CAST(SUM(qa) AS BIGINT) AS qa,
        |    CAST(SUM(c2) AS BIGINT) AS c2, CAST(SUM(c1) AS BIGINT) AS c1
        |  FROM rows2 GROUP BY 1, 2, 3),
        |wc AS (SELECT cohort, h, qa, c2, c1,
        |    CAST(SUM(c2) OVER (PARTITION BY cohort, h ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
        |  FROM cells),
        |agg AS (SELECT cohort, h,
        |    CAST(SUM(qa * (2 * (cum2 - c2) + c2)) AS BIGINT) AS num,
        |    CAST(SUM(qa) AS BIGINT) AS w,
        |    CAST(SUM(c2) AS BIGINT) AS n_controls,
        |    CAST(SUM(c1) AS BIGINT) AS n_cases
        |  FROM wc GROUP BY 1, 2)
        |SELECT cohort, h, n_cases, n_controls,
        |  CASE WHEN w > 0 AND n_controls > 0 THEN
        |    CAST(num AS DOUBLE) / (2.0 * CAST(w AS DOUBLE)
        |      * CAST(n_controls AS DOUBLE)) END AS auc_ipcw
        |FROM agg ORDER BY cohort, h""".stripMargin,
    // conditional-survival mirror: the KM recursion + two correlated
    // step lookups per (t0, s) pair + one division
    "c_cond_survival" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS t
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1),
        |ps AS (SELECT * FROM (VALUES
        |    (CAST(10.0 AS DOUBLE), CAST(5.0 AS DOUBLE)),
        |    (CAST(15.0 AS DOUBLE), CAST(10.0 AS DOUBLE)),
        |    (CAST(20.0 AS DOUBLE), CAST(5.0 AS DOUBLE))) AS v(t0, s)),
        |co AS (SELECT DISTINCT cohort FROM obs),
        |fin AS (SELECT co.cohort, ps.t0, ps.s,
        |    COALESCE((SELECT km.p FROM km WHERE km.cohort = co.cohort
        |      AND km.i > 0 AND km.t <= ps.t0
        |      ORDER BY km.t DESC LIMIT 1), 1.0) AS s_t0,
        |    COALESCE((SELECT km.p FROM km WHERE km.cohort = co.cohort
        |      AND km.i > 0 AND km.t <= ps.t0 + ps.s
        |      ORDER BY km.t DESC LIMIT 1), 1.0) AS s_t1
        |  FROM co CROSS JOIN ps)
        |SELECT cohort, t0, s, s_t0, s_t1,
        |  CASE WHEN s_t0 > 0.0 THEN s_t1 / s_t0 END AS cond_survival
        |FROM fin ORDER BY cohort, t0, s""".stripMargin,
    // one-calibration mirror: NTILE deciles, quantized prediction
    // means, per-decile KM recursion, arg_max step lookup at h
    "c_surv_calibration" ->
      """WITH RECURSIVE u AS (SELECT user_id, event_type,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev,
        |    1.0 - 1.0 / (1.0 + 25.0 / (1.0 + risk)) AS pred,
        |    CAST(user_id AS VARCHAR) || '_' || event_type AS sid
        |  FROM u CROSS JOIN g),
        |nt AS (SELECT cohort, duration, ev, pred,
        |    CAST(NTILE(5) OVER (PARTITION BY cohort
        |      ORDER BY pred, sid) AS INTEGER) AS bin
        |  FROM obs),
        |perbin AS (SELECT cohort, bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(SUM(CAST(FLOOR(pred * 1000000000000.0) AS BIGINT))
        |      AS BIGINT) AS qp
        |  FROM nt GROUP BY 1, 2),
        |cnt AS (SELECT cohort, bin, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM nt GROUP BY 1, 2, 3),
        |ord AS (SELECT cohort, bin, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort, bin
        |      ORDER BY t) AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort, bin) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, bin, CAST(0 AS BIGINT) AS i,
        |    CAST(0 AS BIGINT) AS used, CAST(1 AS DOUBLE) AS p,
        |    CAST(NULL AS DOUBLE) AS t
        |  FROM (SELECT DISTINCT cohort, bin FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.bin, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t
        |  FROM km JOIN ord o ON o.cohort = km.cohort
        |    AND o.bin = km.bin AND o.i = km.i + 1),
        |sh AS (SELECT cohort, bin, arg_max(p, t) AS s_h FROM km
        |  WHERE i > 0 AND t <= 25.0 GROUP BY 1, 2)
        |SELECT perbin.cohort, perbin.bin, n, n_events,
        |  (CAST(qp AS DOUBLE) / 1000000000000.0) / CAST(n AS DOUBLE)
        |    AS mean_pred,
        |  1.0 - COALESCE(s_h, 1.0) AS observed
        |FROM perbin LEFT JOIN sh ON perbin.cohort = sh.cohort
        |  AND perbin.bin = sh.bin
        |ORDER BY perbin.cohort, perbin.bin""".stripMargin,
    // SMR mirror: pooled Nelson–Aalen recursion, per-subject step
    // lookup, quantized expected-event sum, Vandenbroucke CI
    "c_smr" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM obs GROUP BY 1),
        |ord AS (SELECT t, d, c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
        |  FROM cnt),
        |na AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(0 AS DOUBLE) AS h, CAST(NULL AS DOUBLE) AS t
        |  UNION ALL
        |  SELECT o.i, na.used + o.d + o.c,
        |    na.h + CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - na.used AS DOUBLE),
        |    o.t
        |  FROM na JOIN ord o ON o.i = na.i + 1),
        |subj AS (SELECT cohort, ev,
        |    CAST(FLOOR(COALESCE((SELECT na.h FROM na
        |      WHERE na.i > 0 AND na.t <= obs.duration
        |      ORDER BY na.t DESC LIMIT 1), 0.0) * 1000000000.0)
        |      AS BIGINT) AS qe
        |  FROM obs),
        |agg AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS o,
        |    CAST(SUM(qe) AS DOUBLE) / 1000000000.0 AS e
        |  FROM subj GROUP BY 1)
        |SELECT cohort, n, o, e,
        |  CASE WHEN e > 0.0 THEN CAST(o AS DOUBLE) / e END AS smr,
        |  CASE WHEN e > 0.0 THEN
        |    ((SQRT(CAST(o AS DOUBLE)) - 0.98)
        |      * (SQRT(CAST(o AS DOUBLE)) - 0.98)) / e END AS lo,
        |  CASE WHEN e > 0.0 THEN
        |    ((SQRT(CAST(o AS DOUBLE)) + 0.98)
        |      * (SQRT(CAST(o AS DOUBLE)) + 0.98)) / e END AS hi
        |FROM agg ORDER BY cohort""".stripMargin,
    // trend log-rank mirror: densified level×time grid, suffix-sum
    // at-risk window, per-time U/V terms with the identical floor chain
    "c_trend_logrank" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    CAST(user_id % 4 AS DOUBLE) AS l, duration,
        |    last_d < g.gmax - 7 AS ev
        |  FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, l, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM obs GROUP BY 1, 2, 3),
        |lv AS (SELECT DISTINCT cohort, l FROM cnt),
        |lvk AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS k_levels
        |  FROM lv GROUP BY 1),
        |ts2 AS (SELECT DISTINCT cohort, t FROM cnt),
        |grid AS (SELECT lv.cohort, lv.l, ts2.t,
        |    COALESCE(d, 0) AS d, COALESCE(c, 0) AS c
        |  FROM lv JOIN ts2 ON lv.cohort = ts2.cohort
        |  LEFT JOIN cnt ON cnt.cohort = lv.cohort AND cnt.l = lv.l
        |    AND cnt.t = ts2.t),
        |ar AS (SELECT cohort, l, t, d,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort, l ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS nl
        |  FROM grid),
        |byt AS (SELECT cohort, t, CAST(SUM(d) AS BIGINT) AS d,
        |    CAST(SUM(nl) AS BIGINT) AS n,
        |    SUM(l * CAST(d AS DOUBLE)) AS sd,
        |    SUM(l * CAST(nl AS DOUBLE)) AS sn,
        |    SUM(l * l * CAST(nl AS DOUBLE)) AS sn2
        |  FROM ar GROUP BY 1, 2),
        |terms AS (SELECT cohort, n,
        |    (sd - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) * sn)
        |      * 1000000000.0 AS qu,
        |    (CASE WHEN n > 1 AND d > 0 THEN CAST(d AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0)) ELSE 0.0 END
        |      * (CAST(n AS DOUBLE) * sn2 - sn * sn)) * 1000000000.0
        |      AS qv
        |  FROM byt),
        |agg AS (SELECT cohort, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(qu) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 AS u,
        |    CAST(SUM(CAST(FLOOR(qv) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0 AS v
        |  FROM terms GROUP BY 1)
        |SELECT agg.cohort, n, k_levels, u, v,
        |  CASE WHEN v > 0.0 THEN u / SQRT(v) END AS z
        |FROM agg JOIN lvk ON agg.cohort = lvk.cohort
        |ORDER BY agg.cohort""".stripMargin,
    // Uno's C mirror: censoring KM by recursion, per-index-cell
    // doubled credits by the naive pair join, identical floor chain
    "c_uno_c" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev, risk
        |  FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS t
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1),
        |pcell AS (SELECT a.cohort, a.duration AS t, a.risk AS r,
        |    CAST(SUM(CASE WHEN b.risk < a.risk THEN 2
        |      WHEN b.risk = a.risk THEN 1 ELSE 0 END) AS BIGINT)
        |      AS num2,
        |    CAST(COUNT(*) AS BIGINT) AS den
        |  FROM obs a JOIN obs b ON a.cohort = b.cohort AND a.ev
        |    AND a.duration <= 25.0
        |    AND (b.duration > a.duration
        |      OR (b.duration = a.duration AND NOT b.ev))
        |  GROUP BY 1, 2, 3),
        |q AS (SELECT cohort,
        |    CAST(FLOOR(CAST(num2 AS DOUBLE) * (1.0 / (gtm * gtm))
        |      * 1000000.0) AS BIGINT) AS qn,
        |    CAST(FLOOR(CAST(den AS DOUBLE) * (1.0 / (gtm * gtm))
        |      * 1000000.0) AS BIGINT) AS qd
        |  FROM (SELECT p.*, COALESCE((SELECT km.p FROM km
        |      WHERE km.cohort = p.cohort AND km.i > 0 AND km.t < p.t
        |      ORDER BY km.t DESC LIMIT 1), 1.0) AS gtm
        |    FROM pcell p) s),
        |tot AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM obs GROUP BY 1)
        |SELECT tot.cohort, n, n_events,
        |  CASE WHEN SUM(qd) > 0 THEN CAST(SUM(qn) AS DOUBLE)
        |    / (2.0 * CAST(SUM(qd) AS DOUBLE)) END AS c_uno
        |FROM tot LEFT JOIN q ON tot.cohort = q.cohort
        |GROUP BY 1, 2, 3 ORDER BY tot.cohort""".stripMargin,
    // AUC(t) mirror: horizon-sliced labels + the doubled-midrank AUC
    "c_auc_t" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev, risk
        |  FROM u CROSS JOIN g),
        |lab AS (SELECT cohort, h, risk,
        |    duration <= h AND ev AS coh
        |  FROM obs CROSS JOIN (VALUES (CAST(15.0 AS DOUBLE)),
        |    (CAST(20.0 AS DOUBLE)), (CAST(25.0 AS DOUBLE))) AS hs(h)
        |  WHERE (duration <= h AND ev) OR duration > h),
        |d AS (SELECT cohort, h, risk AS x,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM lab GROUP BY 1, 2, 3),
        |w AS (SELECT cohort, h, c1, c2, t,
        |    CAST(SUM(t) OVER (PARTITION BY cohort, h ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |a AS (SELECT cohort, h, CAST(SUM(c1) AS BIGINT) AS n_cases,
        |    CAST(SUM(c2) AS BIGINT) AS n_controls,
        |    CAST(SUM(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1_x2
        |  FROM w GROUP BY 1, 2)
        |SELECT cohort, h, n_cases, n_controls,
        |  CASE WHEN n_cases > 0 AND n_controls > 0 THEN
        |    (CAST(r1_x2 - n_cases * (n_cases + 1) AS DOUBLE) / 2.0)
        |      / (CAST(n_cases AS DOUBLE) * CAST(n_controls AS DOUBLE))
        |  END AS auc
        |FROM a ORDER BY cohort, h""".stripMargin,
    // IPCW Brier mirror: censoring KM by recursive CTE (the
    // c_kaplan_meier recursion with the event flag flipped), Ĝ
    // lookups by correlated last-step-at-or-before subqueries, and
    // the weighted squared terms floor-quantized to BIGINT before the
    // only cross-row sum — the exact op order of the Spark plan
    "c_brier_t" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev, risk
        |  FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS t
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1),
        |terms AS (SELECT o.cohort, hs.h,
        |    CASE WHEN o.duration <= hs.h AND o.ev THEN 1 ELSE 0 END
        |      AS is_case,
        |    CASE WHEN o.duration > hs.h THEN 1 ELSE 0 END AS is_ctrl,
        |    CASE
        |      WHEN o.duration <= hs.h AND o.ev THEN
        |        (1.0 / COALESCE((SELECT p FROM km
        |          WHERE km.cohort = o.cohort AND km.i > 0
        |            AND km.t < o.duration
        |          ORDER BY km.t DESC LIMIT 1), 1.0))
        |        * ((1.0 / (1.0 + hs.h / (1.0 + o.risk)) - 0.0)
        |          * (1.0 / (1.0 + hs.h / (1.0 + o.risk)) - 0.0))
        |      WHEN o.duration > hs.h THEN
        |        (1.0 / COALESCE((SELECT p FROM km
        |          WHERE km.cohort = o.cohort AND km.i > 0
        |            AND km.t <= hs.h
        |          ORDER BY km.t DESC LIMIT 1), 1.0))
        |        * ((1.0 / (1.0 + hs.h / (1.0 + o.risk)) - 1.0)
        |          * (1.0 / (1.0 + hs.h / (1.0 + o.risk)) - 1.0))
        |      ELSE 0.0 END AS term
        |  FROM obs o CROSS JOIN (VALUES (CAST(15.0 AS DOUBLE)),
        |    (CAST(20.0 AS DOUBLE)), (CAST(25.0 AS DOUBLE))) AS hs(h))
        |SELECT cohort, h, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(is_case) AS BIGINT) AS n_cases,
        |  CAST(SUM(is_ctrl) AS BIGINT) AS n_controls,
        |  (CAST(SUM(CAST(FLOOR(term * 1000000000000.0) AS BIGINT))
        |      AS DOUBLE) / 1000000000000.0)
        |    / CAST(COUNT(*) AS DOUBLE) AS brier
        |FROM terms GROUP BY 1, 2 ORDER BY cohort, h""".stripMargin,
    // group-sequential mirror: exact cumulative arm counts per look,
    // the pooled two-proportion z, and the OBF boundary recomputed by
    // the identical IEEE product 2.040·√(5/k)
    "a_gs_bounds" ->
      """WITH cnt AS (SELECT event_type,
        |    CAST(1 + (event_id % 5) AS INTEGER) AS look,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND value > 50.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_t,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 AND value > 50.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_c
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL
        |  GROUP BY 1, 2),
        |cum AS (SELECT event_type, look,
        |    CAST(SUM(n_t) OVER w AS BIGINT) AS n_t,
        |    CAST(SUM(x_t) OVER w AS BIGINT) AS x_t,
        |    CAST(SUM(n_c) OVER w AS BIGINT) AS n_c,
        |    CAST(SUM(x_c) OVER w AS BIGINT) AS x_c
        |  FROM cnt WINDOW w AS (PARTITION BY event_type ORDER BY look
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fin AS (SELECT event_type, look,
        |    CAST(2.040 AS DOUBLE) * SQRT(CAST(5.0 AS DOUBLE) /
        |      CAST(look AS DOUBLE)) AS boundary, n_t, x_t, n_c, x_c,
        |    CASE WHEN n_t > 0 AND n_c > 0
        |        AND CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE) > 0.0
        |        AND CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE) < 1.0
        |      THEN (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |          - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |        / SQRT(CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE)
        |          * (1.0 - CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
        |          * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)))
        |      END AS z
        |  FROM cum)
        |SELECT event_type, look, boundary, n_t, x_t, n_c, x_c, z,
        |  CASE WHEN z IS NOT NULL THEN ABS(z) > boundary END AS reject
        |FROM fin ORDER BY event_type, look""".stripMargin,
    // Jonckheere mirror: the same densified level×value grid, the two
    // ROWS-frame windows, the doubled BIGINT statistic, and the
    // fixed-parenthesization mu/sigma/z tail
    "a_jonckheere" ->
      """WITH cells AS (SELECT event_type AS g, user_id % 4 AS l,
        |    value AS x, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |lv AS (SELECT DISTINCT g, l FROM cells),
        |vx AS (SELECT DISTINCT g, x FROM cells),
        |grid AS (SELECT lv.g, lv.l, vx.x, COALESCE(c, 0) AS c
        |  FROM lv JOIN vx ON lv.g = vx.g
        |  LEFT JOIN cells ON cells.g = lv.g AND cells.l = lv.l
        |    AND cells.x = vx.x),
        |w1 AS (SELECT g, l, x, c, COALESCE(SUM(c) OVER (
        |    PARTITION BY g, l ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cumw FROM grid),
        |w2 AS (SELECT g, c,
        |    COALESCE(SUM(cumw) OVER (PARTITION BY g, x ORDER BY l
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS lowless,
        |    COALESCE(SUM(c) OVER (PARTITION BY g, x ORDER BY l
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS lowtie
        |  FROM w1),
        |jt AS (SELECT g, CAST(SUM(c * (2 * lowless + lowtie)) AS BIGINT)
        |    AS jt2 FROM w2 GROUP BY 1),
        |lvl AS (SELECT g, l, CAST(SUM(c) AS BIGINT) AS nl FROM cells
        |  GROUP BY 1, 2),
        |lvla AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_levels,
        |    SUM(CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE)) AS sn2,
        |    SUM(CAST(nl AS DOUBLE) * (CAST(nl AS DOUBLE) - 1.0)
        |      * (2.0 * CAST(nl AS DOUBLE) + 5.0)) AS s25,
        |    SUM(CAST(nl AS DOUBLE) * (CAST(nl AS DOUBLE) - 1.0)
        |      * (CAST(nl AS DOUBLE) - 2.0)) AS s3,
        |    SUM(CAST(nl AS DOUBLE) * (CAST(nl AS DOUBLE) - 1.0)) AS s2
        |  FROM lvl GROUP BY 1),
        |tie AS (SELECT g, x, CAST(SUM(c) AS BIGINT) AS t FROM cells
        |  GROUP BY 1, 2),
        |tiea AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t25,
        |    CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS t3,
        |    CAST(SUM(t * (t - 1)) AS BIGINT) AS t2
        |  FROM tie GROUP BY 1),
        |fin AS (SELECT jt.g, n, k_levels,
        |    CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - sn2) / 4.0 AS mu,
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |        * (2.0 * CAST(n AS DOUBLE) + 5.0) - s25
        |        - CAST(t25 AS DOUBLE)) / 72.0
        |      + s3 * CAST(t3 AS DOUBLE) / (36.0 * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 2.0))
        |      + s2 * CAST(t2 AS DOUBLE) / (8.0 * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0)) AS v
        |  FROM jt JOIN lvla ON jt.g = lvla.g
        |  JOIN tiea ON jt.g = tiea.g)
        |SELECT g AS event_type, n, k_levels, jt, mu,
        |  CASE WHEN n > 2 AND v > 0.0 THEN SQRT(v) END AS sigma,
        |  CASE WHEN n > 2 AND v > 0.0 THEN (jt - mu) / SQRT(v) END AS z
        |FROM fin ORDER BY event_type""".stripMargin,
    // win-ratio oracle: the NAIVE cross-arm pair join — independent
    // enumeration, not a mirror of the tiered rank decomposition
    "c_win_ratio" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS dur,
        |    CAST(COUNT(*) AS DOUBLE) AS act
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    user_id % 2 = 0 AS arm, dur, act FROM u),
        |arms AS (SELECT cohort,
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c
        |  FROM obs GROUP BY 1),
        |p AS (SELECT a.cohort,
        |    CAST(SUM(CASE WHEN a.dur > b.dur
        |      OR (a.dur = b.dur AND a.act > b.act) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS wins,
        |    CAST(SUM(CASE WHEN b.dur > a.dur
        |      OR (a.dur = b.dur AND b.act > a.act) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS losses,
        |    CAST(SUM(CASE WHEN a.dur = b.dur AND a.act = b.act
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ties
        |  FROM obs a JOIN obs b ON a.cohort = b.cohort
        |    AND a.arm AND NOT b.arm
        |  GROUP BY 1)
        |SELECT arms.cohort, n_t, n_c,
        |  COALESCE(wins, 0) AS wins, COALESCE(losses, 0) AS losses,
        |  COALESCE(ties, 0) AS ties,
        |  CASE WHEN losses > 0 THEN CAST(wins AS DOUBLE)
        |    / CAST(losses AS DOUBLE) END AS win_ratio,
        |  CASE WHEN wins > 0 AND losses > 0 THEN ROUND(LN(
        |    CAST(wins AS DOUBLE) / CAST(losses AS DOUBLE)), 12)
        |    END AS log_wr,
        |  CASE WHEN wins + losses > 0 THEN
        |    CAST(wins - losses AS DOUBLE)
        |      / SQRT(CAST(wins + losses AS DOUBLE)) END AS z
        |FROM arms LEFT JOIN p ON arms.cohort = p.cohort
        |ORDER BY arms.cohort""".stripMargin,
    // Harrell-C oracle: the NAIVE comparable-pair join — independent
    // enumeration against the bucket-grid decomposition
    "c_harrell_c" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    CAST(COUNT(*) AS DOUBLE) AS risk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev, risk
        |  FROM u CROSS JOIN g),
        |tot AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM obs GROUP BY 1),
        |p AS (SELECT a.cohort,
        |    CAST(COUNT(*) AS BIGINT) AS comparable_pairs,
        |    CAST(SUM(CASE WHEN b.risk < a.risk THEN 2
        |      WHEN b.risk = a.risk THEN 1 ELSE 0 END) AS BIGINT)
        |      AS concordant2
        |  FROM obs a JOIN obs b ON a.cohort = b.cohort AND a.ev
        |    AND (b.duration > a.duration
        |      OR (b.duration = a.duration AND NOT b.ev))
        |  GROUP BY 1)
        |SELECT tot.cohort, n, n_events,
        |  COALESCE(comparable_pairs, 0) AS comparable_pairs,
        |  COALESCE(concordant2, 0) AS concordant2,
        |  CASE WHEN comparable_pairs > 0 THEN
        |    CAST(concordant2 AS DOUBLE)
        |      / (2.0 * CAST(comparable_pairs AS DOUBLE)) END AS c_index
        |FROM tot LEFT JOIN p ON tot.cohort = p.cohort
        |ORDER BY tot.cohort""".stripMargin,
    "a_kmv_jaccard" ->
      """WITH hs AS (SELECT DISTINCT l_returnflag,
        |    l_linestatus = 'F' AS ca,
        |    CAST(list_sum(list_transform(range(1, 14), j ->
        |      CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(l_partkey AS VARCHAR)), CAST(j AS INTEGER), 1))
        |        - 1 AS BIGINT) << (4 * (13 - CAST(j AS INTEGER)))))
        |      AS BIGINT) AS h
        |  FROM lineitem),
        |am AS (SELECT l_returnflag, h FROM (
        |    SELECT l_returnflag, h, ROW_NUMBER() OVER (
        |      PARTITION BY l_returnflag ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT l_returnflag, h FROM hs WHERE ca))
        |  WHERE rn <= 64),
        |bm AS (SELECT l_returnflag, h FROM (
        |    SELECT l_returnflag, h, ROW_NUMBER() OVER (
        |      PARTITION BY l_returnflag ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT l_returnflag, h FROM hs WHERE NOT ca))
        |  WHERE rn <= 64),
        |un AS (SELECT l_returnflag, h FROM (
        |    SELECT l_returnflag, h, ROW_NUMBER() OVER (
        |      PARTITION BY l_returnflag ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT l_returnflag, h FROM (
        |      SELECT l_returnflag, h FROM am
        |      UNION ALL SELECT l_returnflag, h FROM bm)))
        |  WHERE rn <= 64)
        |SELECT u.l_returnflag, COUNT(*) AS n_mins,
        |  CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS jaccard_est
        |FROM un u
        |LEFT JOIN am a ON a.l_returnflag = u.l_returnflag AND a.h = u.h
        |LEFT JOIN bm b ON b.l_returnflag = u.l_returnflag AND b.h = u.h
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the a_welch_partials oracle is the SAME whole-table SQL: the point
    // of the incremental face is that batch slicing is invisible
    "a_js_divergence" ->
      """WITH c AS (
        |  SELECT lang, n_chars, doc_id % 2 = 0 AS coh,
        |    (CASE WHEN n_chars >= 50 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 350 THEN 1 ELSE 0 END) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, bin,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS bn1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS bn2
        |  FROM c GROUP BY 1, 2),
        |t AS (SELECT lang, bin, bn1, bn2,
        |    SUM(bn1) OVER (PARTITION BY lang) AS t1,
        |    SUM(bn2) OVER (PARTITION BY lang) AS t2 FROM b),
        |x AS (SELECT lang, bin, t1, t2,
        |    CASE WHEN t1 > 0 THEN CAST(bn1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |      ELSE 0 END AS p,
        |    CASE WHEN t2 > 0 THEN CAST(bn2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        |      ELSE 0 END AS q
        |  FROM t),
        |y AS (SELECT lang, bin, t1, t2,
        |    ((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)
        |     + (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END))
        |      / 2 AS contrib
        |  FROM x)
        |SELECT lang, CAST(MAX(t1) AS BIGINT) AS n1,
        |  CAST(MAX(t2) AS BIGINT) AS n2,
        |  CASE WHEN MAX(t1) > 0 AND MAX(t2) > 0 THEN
        |    ROUND(0.0 + list_reduce(list(contrib ORDER BY bin),
        |      (a, b) -> a + b), 12) END AS js
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,
    // PAV replayed by FIRST-VIOLATOR recursion — a different merge order
    // than the kernel's stack, safe because the exact-arithmetic fit is
    // unique and confluent (documented at Stats.isotonicFit)
    "t_isotonic_calibration" ->
      """WITH RECURSIVE
        |c AS (SELECT source, CAST(FLOOR(n_chars / 50) AS BIGINT) AS score,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT source,
        |    list(pos_sum ORDER BY score) AS ps,
        |    list(n ORDER BY score) AS pc,
        |    list_transform(list(n ORDER BY score), x -> CAST(1 AS BIGINT)) AS sp
        |  FROM c GROUP BY 1),
        |it AS (
        |  SELECT source, 0 AS depth, ps, pc, sp FROM s
        |  UNION ALL
        |  SELECT source, depth + 1,
        |    list_slice(ps, 1, v - 1) || [ps[v] + ps[v + 1]] || list_slice(ps, v + 2, len(ps)),
        |    list_slice(pc, 1, v - 1) || [pc[v] + pc[v + 1]] || list_slice(pc, v + 2, len(pc)),
        |    list_slice(sp, 1, v - 1) || [sp[v] + sp[v + 1]] || list_slice(sp, v + 2, len(sp))
        |  FROM (
        |    SELECT source, depth, ps, pc, sp,
        |      CAST(list_filter(range(1, CAST(len(ps) AS BIGINT)),
        |        j -> ps[CAST(j AS INTEGER)] * pc[CAST(j AS INTEGER) + 1] >=
        |             ps[CAST(j AS INTEGER) + 1] * pc[CAST(j AS INTEGER)])[1]
        |        AS INTEGER) AS v
        |    FROM it) q
        |  WHERE v IS NOT NULL
        |),
        |fin AS (SELECT source, ps, pc, sp,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY depth DESC) AS rn
        |  FROM it QUALIFY rn = 1),
        |pools AS (SELECT source AS psrc,
        |    UNNEST(list_transform(range(1, CAST(len(ps) AS BIGINT) + 1),
        |      i -> struct_pack(ord := i, pool_sum := ps[CAST(i AS INTEGER)],
        |        pool_cnt := pc[CAST(i AS INTEGER)],
        |        span := sp[CAST(i AS INTEGER)]))) AS pl
        |  FROM fin),
        |pr AS (SELECT psrc, struct_extract(pl,'pool_sum') AS pool_sum,
        |    struct_extract(pl,'pool_cnt') AS pool_cnt,
        |    CAST(SUM(struct_extract(pl,'span')) OVER (PARTITION BY psrc
        |      ORDER BY struct_extract(pl,'ord') ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS hi,
        |    CAST(struct_extract(pl,'span') AS BIGINT) AS span
        |  FROM pools),
        |px AS (SELECT psrc, pool_sum, pool_cnt, hi - span + 1 AS lo, hi
        |  FROM pr),
        |idx AS (SELECT source, score, pos_sum, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score)
        |      AS BIGINT) AS pos
        |  FROM c)
        |SELECT idx.source AS source, idx.score AS score, idx.n AS n,
        |  idx.pos_sum AS pos_sum, px.pool_sum AS pool_sum,
        |  px.pool_cnt AS pool_cnt,
        |  CAST(px.pool_sum AS DOUBLE) / CAST(px.pool_cnt AS DOUBLE)
        |    AS calibrated
        |FROM idx JOIN px ON px.psrc = idx.source
        |  AND idx.pos BETWEEN px.lo AND px.hi
        |ORDER BY source, score""".stripMargin,
    "a_rank_sum" ->
      """WITH c AS (SELECT lang, n_chars, doc_id % 2 = 0 AS coh
        |  FROM documents WHERE n_chars IS NOT NULL),
        |d AS (SELECT lang, n_chars AS x,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM c GROUP BY 1, 2),
        |w AS (SELECT lang, c1, c2, t,
        |    CAST(SUM(t) OVER (PARTITION BY lang ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |a AS (SELECT lang, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1_x2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM w GROUP BY 1),
        |u AS (SELECT lang, n1, n2, r1_x2,
        |    CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS n1n2,
        |    n1 + n2 AS n, ties FROM a)
        |SELECT lang, n1, n2, r1_x2, u1,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND
        |      n1n2 / 12.0 * (CAST(n + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) > 0
        |    THEN (u1 - n1n2 / 2.0)
        |      / sqrt(n1n2 / 12.0 * (CAST(n + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)))
        |  END AS z
        |FROM u ORDER BY 1""".stripMargin,
    // Cliff's delta mirror: the a_rank_sum pipeline plus the two-op
    // effect-size tail 2·u1/(n1·n2) − 1; delta hashes unrounded.
    "a_cliffs_delta" ->
      """WITH c AS (SELECT lang, n_chars, doc_id % 2 = 0 AS coh
        |  FROM documents WHERE n_chars IS NOT NULL),
        |d AS (SELECT lang, n_chars AS x,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM c GROUP BY 1, 2),
        |w AS (SELECT lang, c1, c2, t,
        |    CAST(SUM(t) OVER (PARTITION BY lang ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |a AS (SELECT lang, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1_x2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM w GROUP BY 1),
        |u AS (SELECT lang, n1, n2, r1_x2,
        |    CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS n1n2,
        |    n1 + n2 AS n, ties FROM a)
        |SELECT lang, n1, n2, r1_x2, u1,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND
        |      n1n2 / 12.0 * (CAST(n + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) > 0
        |    THEN (u1 - n1n2 / 2.0)
        |      / sqrt(n1n2 / 12.0 * (CAST(n + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)))
        |  END AS z,
        |  CASE WHEN n1 > 0 AND n2 > 0
        |    THEN 2.0 * u1 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |      - 1.0 END AS delta
        |FROM u ORDER BY 1""".stripMargin,
    // Ranking mirror: same deterministic (score DESC, doc_id) order,
    // exact rank/cum-positive windows, relevant-only lists folded in
    // rank order. mrr/ap unrounded; ndcg at 12 decimals (log2 ulps).
    "a_ranking_metrics" ->
      """WITH c AS (SELECT source, doc_id,
        |    CAST(doc_id * 37 % 1000 AS DOUBLE) / 1000.0 AS score,
        |    COALESCE(lang = 'en', FALSE) AS l
        |  FROM documents),
        |r AS (SELECT source, doc_id, l,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS rnk,
        |    SUM(CASE WHEN l THEN 1 ELSE 0 END) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM c),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    MIN(CASE WHEN l THEN rnk END) AS fr,
        |    list(CAST(cp AS DOUBLE) / CAST(rnk AS DOUBLE) ORDER BY rnk)
        |      FILTER (WHERE l) AS aps,
        |    list(CASE WHEN rnk <= 10
        |        THEN 1.0 / log2(CAST(rnk AS DOUBLE) + 1.0)
        |        ELSE 0.0 END ORDER BY rnk)
        |      FILTER (WHERE l) AS dcgs
        |  FROM r GROUP BY 1)
        |SELECT source, n, n_pos,
        |  CASE WHEN fr IS NOT NULL
        |    THEN 1.0 / CAST(fr AS DOUBLE) END AS mrr,
        |  CASE WHEN n_pos > 0
        |    THEN (0.0 + list_reduce(aps, (a, b) -> a + b))
        |      / CAST(n_pos AS DOUBLE) END AS ap,
        |  CASE WHEN n_pos > 0 THEN ROUND(
        |    (0.0 + list_reduce(dcgs, (a, b) -> a + b))
        |    / (0.0 + list_reduce(list_transform(
        |        range(1, CAST(LEAST(10, n_pos) AS INTEGER) + 1),
        |        i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0)),
        |      (a, b) -> a + b)), 12) END AS ndcg
        |FROM g ORDER BY 1""".stripMargin,
    // Contingency mirror: same present-cell-only algebra (χ² and MI
    // telescoped so absent cells never materialize), marginal window
    // sums, and the fixed (a, b)-order list fold. χ²/V unrounded; mi
    // at 12 decimals (ln ulps).
    "a_contingency_profile" ->
      """WITH c AS (SELECT source, lang AS a,
        |    CAST(FLOOR(n_chars / 100) AS BIGINT) AS b
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |cells AS (SELECT source, a, b, CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM c GROUP BY 1, 2, 3),
        |m AS (SELECT source, a, b, nij,
        |    SUM(nij) OVER (PARTITION BY source, a) AS ri,
        |    SUM(nij) OVER (PARTITION BY source, b) AS cj,
        |    SUM(nij) OVER (PARTITION BY source) AS nn FROM cells),
        |x AS (SELECT source, a, b, nn,
        |    CAST(nij AS DOUBLE) * CAST(nij AS DOUBLE)
        |      / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)) AS chi_t,
        |    CAST(nij AS DOUBLE) * ln(CAST(nij AS DOUBLE)
        |      / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE))) AS mi_t
        |  FROM m),
        |g AS (SELECT source, CAST(MAX(nn) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS r_levels,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS c_levels,
        |    CAST(MAX(nn) AS DOUBLE)
        |      * (0.0 + list_reduce(list(chi_t ORDER BY a, b),
        |          (x, y) -> x + y))
        |      - CAST(MAX(nn) AS DOUBLE) AS chi2,
        |    0.0 + list_reduce(list(mi_t ORDER BY a, b),
        |      (x, y) -> x + y) AS mi_f
        |  FROM x GROUP BY 1)
        |SELECT source, n, r_levels, c_levels, chi2,
        |  CASE WHEN LEAST(r_levels, c_levels) - 1 > 0
        |    THEN sqrt(GREATEST(chi2, 0.0) / (CAST(n AS DOUBLE)
        |      * CAST(LEAST(r_levels, c_levels) - 1 AS DOUBLE)))
        |  END AS cramers_v,
        |  ROUND(ln(CAST(n AS DOUBLE)) + mi_f / CAST(n AS DOUBLE), 12)
        |    AS mi
        |FROM g ORDER BY 1""".stripMargin,
    // Kruskal-Wallis mirror: the same pooled RANGE-window doubled
    // midranks, exact per-level rank sums, fixed level-order fold for
    // the R2²/n terms, N³ in double; h/h_adj hash unrounded.
    "a_kruskal_wallis" ->
      """WITH cells AS (SELECT user_id % 4 AS grp, event_type AS l,
        |    value AS x, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT grp, l, x, c,
        |    SUM(c) OVER (PARTITION BY grp ORDER BY x
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY grp, x) AS t
        |  FROM cells),
        |pl AS (SELECT grp, l,
        |    CAST(SUM(c * (2 * cum - t + 1)) AS BIGINT) AS r2,
        |    CAST(SUM(c) AS BIGINT) AS nl
        |  FROM rk GROUP BY 1, 2),
        |tf AS (SELECT grp, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM (SELECT grp, x, SUM(c) AS t FROM cells GROUP BY 1, 2)
        |    AS tx GROUP BY 1),
        |hv AS (SELECT pl.grp,
        |    CAST(COUNT(*) AS BIGINT) AS k_levels,
        |    0.0 + list_reduce(list(
        |      CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |        / CAST(nl AS DOUBLE) ORDER BY l),
        |      (a, b) -> a + b) AS hs
        |  FROM pl GROUP BY 1)
        |SELECT hv.grp, tf.n, hv.k_levels,
        |  CASE WHEN tf.n > 1 THEN
        |    3.0 / (CAST(tf.n AS DOUBLE) * (CAST(tf.n AS DOUBLE) + 1.0))
        |      * hv.hs - 3.0 * (CAST(tf.n AS DOUBLE) + 1.0) END AS h,
        |  CASE WHEN tf.n > 1 AND 1.0 - CAST(tf.ties AS DOUBLE)
        |      / (CAST(tf.n AS DOUBLE) * CAST(tf.n AS DOUBLE)
        |        * CAST(tf.n AS DOUBLE) - CAST(tf.n AS DOUBLE)) > 0.0
        |    THEN (3.0 / (CAST(tf.n AS DOUBLE)
        |        * (CAST(tf.n AS DOUBLE) + 1.0)) * hv.hs
        |        - 3.0 * (CAST(tf.n AS DOUBLE) + 1.0))
        |      / (1.0 - CAST(tf.ties AS DOUBLE)
        |        / (CAST(tf.n AS DOUBLE) * CAST(tf.n AS DOUBLE)
        |          * CAST(tf.n AS DOUBLE) - CAST(tf.n AS DOUBLE)))
        |  END AS h_adj
        |FROM hv JOIN tf ON tf.grp = hv.grp
        |ORDER BY hv.grp""".stripMargin,
    // Wilson mirror: the identical op order — center/half over exact
    // counts, one sqrt, clamp — so p/lo/hi hash unrounded. 3.8416… is
    // the double value of 1.96*1.96 (the driver-computed z² literal).
    "a_wilson_ci" ->
      """WITH a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1)
        |SELECT source, n, k,
        |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |  GREATEST(0.0,
        |    ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
        |      / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)))
        |    - ((1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        + 3.8415999999999997
        |          / (4.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))))
        |      / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)))) AS lo,
        |  LEAST(1.0,
        |    ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
        |      / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)))
        |    + ((1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        + 3.8415999999999997
        |          / (4.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))))
        |      / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)))) AS hi
        |FROM a ORDER BY 1""".stripMargin,
    // Spearman mirror: identical doubled-midrank construction — RANK()
    // (tie-block min rank) + tie-inclusive RANGE-frame count from the
    // same sort, centered by (n+1), three exact BIGINT sums, one
    // algebraic float tail. No rounding anywhere.
    "a_spearman_corr" ->
      """WITH c AS (SELECT event_type, ts, value FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT event_type,
        |    CAST(RANK() OVER (PARTITION BY event_type ORDER BY ts)
        |      AS BIGINT)
        |    + COUNT(*) OVER (PARTITION BY event_type ORDER BY ts
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS dmrx,
        |    CAST(RANK() OVER (PARTITION BY event_type ORDER BY value)
        |      AS BIGINT)
        |    + COUNT(*) OVER (PARTITION BY event_type ORDER BY value
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS dmry,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nw
        |  FROM c),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((dmrx - (nw + 1)) * (dmry - (nw + 1))) AS BIGINT)
        |      AS num,
        |    CAST(SUM((dmrx - (nw + 1)) * (dmrx - (nw + 1))) AS BIGINT)
        |      AS dx2,
        |    CAST(SUM((dmry - (nw + 1)) * (dmry - (nw + 1))) AS BIGINT)
        |      AS dy2
        |  FROM r GROUP BY 1)
        |SELECT event_type, n, num, dx2, dy2,
        |  CASE WHEN dx2 > 0 AND dy2 > 0
        |    THEN CAST(num AS DOUBLE)
        |      / sqrt(CAST(dx2 AS DOUBLE) * CAST(dy2 AS DOUBLE))
        |  END AS rho
        |FROM a ORDER BY 1""".stripMargin,
    // AUC mirror: the a_rank_sum pipeline re-grouped by source with
    // label = lang-is-en, finalized as U1/(n1*n2) — one division over
    // exact BIGINT-derived halves, midrank ties included.
    "a_auc_length" ->
      """WITH c AS (SELECT source, n_chars,
        |    COALESCE(lang = 'en', FALSE) AS coh
        |  FROM documents WHERE n_chars IS NOT NULL),
        |d AS (SELECT source, n_chars AS x,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS t
        |  FROM c GROUP BY 1, 2),
        |w AS (SELECT source, c1, c2, t,
        |    CAST(SUM(t) OVER (PARTITION BY source ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |a AS (SELECT source, CAST(SUM(c1) AS BIGINT) AS n_pos,
        |    CAST(SUM(c2) AS BIGINT) AS n_neg,
        |    CAST(SUM(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1_x2
        |  FROM w GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    (CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |  END AS auc
        |FROM a ORDER BY 1""".stripMargin,
    "a_logistic_fit" -> logisticFitOracle,
    "c_propensity_ate" -> propensityAteOracle,
    "c_ipw_ate" -> ipwAteOracle,
    "c_aipw_ate" -> aipwAteOracle,
    // reliability mirror: same fixed pseudo-score, exact bin counts,
    // quantized score mass, single-division conf/acc
    "a_reliability_bins" ->
      """WITH c AS (SELECT source,
        |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS s,
        |    COALESCE(lang = 'en', FALSE) AS y
        |  FROM documents),
        |b AS (SELECT source,
        |    LEAST(CAST(floor(s * 10) AS INTEGER), 9) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(floor(s * 1.0E9) AS BIGINT)) AS BIGINT) AS sq
        |  FROM c GROUP BY 1, 2)
        |SELECT source, bin, n, n_pos,
        |  (CAST(sq AS DOUBLE) / 1.0E9) / CAST(n AS DOUBLE) AS conf,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
        |FROM b ORDER BY source, bin""".stripMargin,
    // calibration-error mirror: quantized Brier sum + the fixed
    // ascending-bin ECE fold (0.0-seed == first-element-seed)
    "a_calibration_error" ->
      """WITH c AS (SELECT source,
        |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS s,
        |    COALESCE(lang = 'en', FALSE) AS y
        |  FROM documents),
        |br AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(floor(
        |      ((s - CASE WHEN y THEN 1.0 ELSE 0.0 END)
        |        * (s - CASE WHEN y THEN 1.0 ELSE 0.0 END)) * 1.0E9)
        |      AS BIGINT)) AS BIGINT) AS bq
        |  FROM c GROUP BY 1),
        |b AS (SELECT source,
        |    LEAST(CAST(floor(s * 10) AS INTEGER), 9) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(floor(s * 1.0E9) AS BIGINT)) AS BIGINT) AS sq
        |  FROM c GROUP BY 1, 2),
        |e AS (SELECT source,
        |    (0.0 + list_reduce(list(
        |        CAST(nb AS DOUBLE) * abs(
        |          CAST(n_pos AS DOUBLE) / CAST(nb AS DOUBLE)
        |          - (CAST(sq AS DOUBLE) / 1.0E9) / CAST(nb AS DOUBLE))
        |        ORDER BY bin), (a, x) -> a + x))
        |      / CAST(list_reduce(list(nb ORDER BY bin),
        |          (a, x) -> a + x) AS DOUBLE) AS ece
        |  FROM b GROUP BY 1)
        |SELECT br.source AS source, br.n AS n,
        |  (CAST(br.bq AS DOUBLE) / 1.0E9) / CAST(br.n AS DOUBLE) AS brier,
        |  e.ece AS ece
        |FROM br JOIN e ON e.source = br.source
        |ORDER BY source""".stripMargin,
    "a_ks_drift" ->
      """WITH c AS (SELECT lang, n_chars, doc_id % 2 = 0 AS coh
        |  FROM documents WHERE n_chars IS NOT NULL),
        |d AS (SELECT lang, n_chars AS x,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM c GROUP BY 1, 2),
        |w AS (SELECT lang,
        |    CAST(SUM(c1) OVER (PARTITION BY lang ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER (PARTITION BY lang ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
        |    CAST(SUM(c1) OVER (PARTITION BY lang) AS BIGINT) AS n1,
        |    CAST(SUM(c2) OVER (PARTITION BY lang) AS BIGINT) AS n2
        |  FROM d)
        |SELECT lang, n1, n2,
        |  CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |      / CAST(n1 * n2 AS DOUBLE) END AS ks
        |FROM w GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // Kaplan-Meier mirror: identical per-(user, event type) episode
    // observations (day-span duration, churn = last activity > 7 days
    // before the corpus max), per-(cohort, t) exact counts, then the
    // ascending-time survival
    // recursion replayed stepwise (seed 1.0; 1.0*x == x, so the
    // stepwise products match the operator's in-row fold bit-for-bit).
    "c_kaplan_meier" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS t,
        |    CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS c,
        |    CAST(NULL AS BIGINT) AS n_risk
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t, o.d, o.c, o.n_total - km.used
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1)
        |SELECT cohort, t, n_risk, d AS n_events, c AS n_censored,
        |  p AS survival
        |FROM km WHERE i > 0 ORDER BY cohort, t""".stripMargin,
    // RMST-difference mirror: the RMST recursion per cohort, a second
    // recursion re-walking each cohort's grid for the Greenwood-type
    // variance with A = total − area, then one pivot + subtraction.
    "c_rmst_diff" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT user_id % 2 = 0 AS coh, duration,
        |    last_d < gm.gmax - 7 AS ev FROM u CROSS JOIN gm),
        |cnt AS (SELECT coh, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT coh, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY coh ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY coh) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |mx AS (SELECT coh, CAST(COUNT(*) AS BIGINT) AS m,
        |    MAX(n_total) AS n_total FROM ord GROUP BY 1),
        |km AS (
        |  SELECT coh, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS pt,
        |    CAST(0 AS DOUBLE) AS area
        |  FROM (SELECT DISTINCT coh FROM ord)
        |  UNION ALL
        |  SELECT o.coh, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t,
        |    km.area + km.p * (least(o.t, CAST(14 AS DOUBLE))
        |      - least(km.pt, CAST(14 AS DOUBLE)))
        |  FROM km JOIN ord o ON o.coh = km.coh AND o.i = km.i + 1),
        |tot AS (SELECT km.coh, mx.n_total,
        |    km.area + km.p * (CAST(14 AS DOUBLE)
        |      - least(km.pt, CAST(14 AS DOUBLE))) AS total
        |  FROM km JOIN mx ON mx.coh = km.coh AND km.i = mx.m),
        |vr AS (
        |  SELECT coh, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS pt,
        |    CAST(0 AS DOUBLE) AS area, CAST(0 AS DOUBLE) AS v
        |  FROM (SELECT DISTINCT coh FROM ord)
        |  UNION ALL
        |  SELECT o.coh, o.i, vr.used + o.d + o.c,
        |    vr.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - vr.used AS DOUBLE)),
        |    o.t,
        |    vr.area + vr.p * (least(o.t, CAST(14 AS DOUBLE))
        |      - least(vr.pt, CAST(14 AS DOUBLE))),
        |    vr.v + CASE WHEN o.d > 0 AND o.d < o.n_total - vr.used
        |        AND o.t <= CAST(14 AS DOUBLE)
        |      THEN (t2.total - (vr.area + vr.p *
        |          (least(o.t, CAST(14 AS DOUBLE))
        |            - least(vr.pt, CAST(14 AS DOUBLE)))))
        |        * (t2.total - (vr.area + vr.p *
        |          (least(o.t, CAST(14 AS DOUBLE))
        |            - least(vr.pt, CAST(14 AS DOUBLE)))))
        |        * (CAST(o.d AS DOUBLE)
        |          / (CAST(o.n_total - vr.used AS DOUBLE)
        |            * CAST(o.n_total - vr.used - o.d AS DOUBLE)))
        |      ELSE CAST(0 AS DOUBLE) END
        |  FROM vr JOIN ord o ON o.coh = vr.coh AND o.i = vr.i + 1
        |    JOIN tot t2 ON t2.coh = vr.coh),
        |fin AS (SELECT vr.coh, tot.n_total, tot.total, vr.v
        |  FROM vr JOIN mx ON mx.coh = vr.coh AND vr.i = mx.m
        |  JOIN tot ON tot.coh = vr.coh)
        |SELECT 'all' AS g,
        |  MAX(CASE WHEN coh THEN n_total END) AS n1,
        |  MAX(CASE WHEN NOT coh THEN n_total END) AS n2,
        |  MAX(CASE WHEN coh THEN total END) AS rmst1,
        |  MAX(CASE WHEN NOT coh THEN total END) AS rmst2,
        |  MAX(CASE WHEN coh THEN total END)
        |    - MAX(CASE WHEN NOT coh THEN total END) AS diff,
        |  sqrt(MAX(CASE WHEN coh THEN v END)
        |    + MAX(CASE WHEN NOT coh THEN v END)) AS se,
        |  CASE WHEN sqrt(MAX(CASE WHEN coh THEN v END)
        |      + MAX(CASE WHEN NOT coh THEN v END)) > 0
        |    THEN (MAX(CASE WHEN coh THEN total END)
        |      - MAX(CASE WHEN NOT coh THEN total END))
        |      / sqrt(MAX(CASE WHEN coh THEN v END)
        |        + MAX(CASE WHEN NOT coh THEN v END)) END AS z
        |FROM fin""".stripMargin,
    // EB-shrinkage mirror: identical quantized moment sums (BIGINT +
    // DECIMAL q-squared), identical float tail ending in the same
    // left-associated shrink denominator.
    "a_eb_shrinkage" ->
      """WITH pu AS (SELECT user_id AS id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1),
        |u AS (SELECT id, n, x,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        |    CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |      * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS q
        |  FROM pu),
        |pr AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(q) AS BIGINT) AS s1,
        |    SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS s2
        |  FROM u),
        |f AS (SELECT u.*,
        |    CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)
        |      / CAST(1000000000000 AS DOUBLE) AS m1,
        |    ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
        |      / (CAST(m AS DOUBLE) - CAST(1 AS DOUBLE)))
        |      / (CAST(1000000000000 AS DOUBLE)
        |        * CAST(1000000000000 AS DOUBLE)) AS v
        |  FROM u CROSS JOIN pr),
        |f2 AS (SELECT f.*,
        |    m1 * (CAST(1 AS DOUBLE) - m1) / v - CAST(1 AS DOUBLE) AS c
        |  FROM f),
        |f3 AS (SELECT f2.*, m1 * c AS alpha,
        |    (CAST(1 AS DOUBLE) - m1) * c AS beta
        |  FROM f2)
        |SELECT 'all' AS g, id, n, x, rate, alpha, beta,
        |  (CAST(x AS DOUBLE) + alpha)
        |    / (CAST(n AS DOUBLE) + alpha + beta) AS shrunk_rate
        |FROM f3 ORDER BY id""".stripMargin,
    // Krippendorff mirror: same algebraic per-item disagreement,
    // same BIGINT quantization, identical float tail.
    "a_krippendorff" ->
      """WITH cell AS (SELECT user_id AS item, event_type AS category,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1, 2),
        |it AS (SELECT item, CAST(SUM(cnt) AS BIGINT) AS ni,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sq
        |  FROM cell GROUP BY 1),
        |pair AS (SELECT item, ni,
        |    CAST(floor((CAST(ni * ni - sq AS DOUBLE)
        |        / CAST(ni - 1 AS DOUBLE))
        |      * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS qd
        |  FROM it WHERE ni >= 2),
        |ia AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairable,
        |    CAST(SUM(ni) AS BIGINT) AS n_ratings,
        |    CAST(SUM(qd) AS BIGINT) AS sd FROM pair),
        |ca AS (SELECT CAST(SUM(cc * cc) AS BIGINT) AS sumcc2
        |  FROM (SELECT c.category, CAST(SUM(c.cnt) AS BIGINT) AS cc
        |    FROM cell c JOIN pair p ON p.item = c.item GROUP BY 1)),
        |ai AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS n_items FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |f AS (SELECT n_items, n_pairable, n_ratings,
        |    (CAST(sd AS DOUBLE) / CAST(1000000000000 AS DOUBLE))
        |      / CAST(n_ratings AS DOUBLE) AS d_o,
        |    CAST(n_ratings * n_ratings - sumcc2 AS DOUBLE)
        |      / CAST(n_ratings * (n_ratings - 1) AS DOUBLE) AS d_e
        |  FROM ai CROSS JOIN ia CROSS JOIN ca)
        |SELECT 'all' AS g, n_items, n_pairable, n_ratings, d_o, d_e,
        |  CAST(1 AS DOUBLE) - d_o / d_e AS alpha
        |FROM f""".stripMargin,
    // CMH mirror: same exact 2x2 counts per stratum, same per-stratum
    // float terms, list_reduce in the same ascending-stratum order
    // (0.0 + x == x so the missing explicit seed is safe).
    "a_cmh" ->
      """WITH cnt AS (SELECT event_type AS st,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND value > 50.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_t,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 AND value > 50.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_c
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |term AS (SELECT st, x_t AS a,
        |    CAST(n_t * (x_t + x_c) AS DOUBLE)
        |      / CAST(n_t + n_c AS DOUBLE) AS e,
        |    CASE WHEN n_t + n_c > 1 THEN
        |      CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE)
        |        * CAST(x_t + x_c AS DOUBLE)
        |        * CAST((n_t + n_c) - (x_t + x_c) AS DOUBLE)
        |      / (CAST(n_t + n_c AS DOUBLE) * CAST(n_t + n_c AS DOUBLE)
        |        * CAST(n_t + n_c - 1 AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END AS v,
        |    CAST(x_t AS DOUBLE) * CAST(n_c - x_c AS DOUBLE)
        |      / CAST(n_t + n_c AS DOUBLE) AS orn,
        |    CAST(n_t - x_t AS DOUBLE) * CAST(x_c AS DOUBLE)
        |      / CAST(n_t + n_c AS DOUBLE) AS ord
        |  FROM cnt),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(a) AS BIGINT) AS a_sum,
        |    list_reduce(list(e ORDER BY st), (x, y) -> x + y) AS e_sum,
        |    list_reduce(list(v ORDER BY st), (x, y) -> x + y) AS v_sum,
        |    list_reduce(list(orn ORDER BY st), (x, y) -> x + y) AS o_n,
        |    list_reduce(list(ord ORDER BY st), (x, y) -> x + y) AS o_d
        |  FROM term)
        |SELECT 'all' AS g, n_strata, a_sum, e_sum, v_sum,
        |  CASE WHEN v_sum > 0 THEN
        |    (CAST(a_sum AS DOUBLE) - e_sum)
        |      * (CAST(a_sum AS DOUBLE) - e_sum) / v_sum END AS chi2,
        |  CASE WHEN o_d > 0 THEN o_n / o_d END AS or_mh
        |FROM f""".stripMargin,
    // Conformal mirror: same integer rank over the same sort; the
    // 1-alpha literal is the identical double (1.0-0.1 rounds to 0.9's
    // representation in IEEE).
    "a_conformal" ->
      """WITH s AS (SELECT lang, CAST(n_chars AS DOUBLE) AS sc
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (SELECT lang, sc,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sc)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM s),
        |kk AS (SELECT lang, sc, rn, n,
        |    CAST(ceil(CAST(0.9 AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |      AS BIGINT) AS k
        |  FROM r)
        |SELECT lang, n, k, CASE WHEN k <= n THEN sc END AS threshold
        |FROM kk WHERE rn = least(k, n) ORDER BY lang""".stripMargin,
    // Cronbach mirror: same quantized per-item/total moment sums
    // (HUGEINT squares), same fixed-order variance tail.
    "t_cronbach" ->
      """WITH u AS (SELECT lang,
        |    CAST(floor(CAST(n_chars AS DOUBLE)
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS q0,
        |    CAST(floor(CAST(LENGTH(text) AS DOUBLE)
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS q1,
        |    CAST(floor(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS q2
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |u2 AS (SELECT lang, q0, q1, q2, q0 + q1 + q2 AS tq FROM u),
        |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q0) AS BIGINT) AS s0,
        |    SUM(CAST(q0 AS HUGEINT) * CAST(q0 AS HUGEINT)) AS ss0,
        |    CAST(SUM(q1) AS BIGINT) AS s1,
        |    SUM(CAST(q1 AS HUGEINT) * CAST(q1 AS HUGEINT)) AS ss1,
        |    CAST(SUM(q2) AS BIGINT) AS s2,
        |    SUM(CAST(q2 AS HUGEINT) * CAST(q2 AS HUGEINT)) AS ss2,
        |    CAST(SUM(tq) AS BIGINT) AS st,
        |    SUM(CAST(tq AS HUGEINT) * CAST(tq AS HUGEINT)) AS sst
        |  FROM u2 GROUP BY 1),
        |f AS (SELECT lang, n,
        |    ((CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE)
        |        * (CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
        |      / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
        |      AS v0,
        |    ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
        |      / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
        |      AS v1,
        |    ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
        |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
        |      / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
        |      AS v2,
        |    ((CAST(sst AS DOUBLE) - CAST(st AS DOUBLE)
        |        * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
        |      / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
        |      AS vt
        |  FROM a)
        |SELECT lang, n AS n_units, CAST(3 AS BIGINT) AS k_items,
        |  (v0 + v1) + v2 AS sum_item_var, vt AS total_var,
        |  CASE WHEN vt > 0 THEN (CAST(3 AS DOUBLE) / CAST(2 AS DOUBLE))
        |    * (CAST(1 AS DOUBLE) - ((v0 + v1) + v2) / vt) END AS alpha
        |FROM f ORDER BY lang""".stripMargin,
    // Cochran-Q mirror: the same per-user detector flags, the same
    // all-integer Q.
    "a_cochran_q" ->
      """WITH f AS (SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c2,
        |    CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c3
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1),
        |it AS (SELECT user_id, c1 + c2 + c3 AS r FROM f),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(r) AS BIGINT) AS sr,
        |    CAST(SUM(r * r) AS BIGINT) AS sr2 FROM it),
        |jd AS (SELECT CAST(SUM(c1) * SUM(c1) + SUM(c2) * SUM(c2)
        |    + SUM(c3) * SUM(c3) AS BIGINT) AS sc2 FROM f)
        |SELECT 'all' AS g, n_items, CAST(3 AS BIGINT) AS k_judges,
        |  CASE WHEN 3 * sr - sr2 > 0 THEN
        |    CAST((3 - 1) * (3 * sc2 - sr * sr) AS DOUBLE)
        |      / CAST(3 * sr - sr2 AS DOUBLE) END AS q_stat
        |FROM agg CROSS JOIN jd""".stripMargin,
    // McNemar mirror: discordant counts, one division.
    "a_mcnemar" ->
      """WITH f AS (SELECT user_id,
        |    MAX(event_type = 'purchase') AS a,
        |    MAX(event_type = 'signup') AS b
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL GROUP BY 1)
        |SELECT 'all' AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b,
        |  CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c,
        |  CASE WHEN SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) > 0 THEN
        |    CAST((SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END))
        |      * (SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END))
        |      AS DOUBLE)
        |      / CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
        |        AS DOUBLE) END AS chi2
        |FROM f""".stripMargin,
    // Stratified log-rank mirror: the c_log_rank recursion PER
    // STRATUM (joins keyed by (st, i)), each stratum's O-E re-derived
    // as o1 - e1 exactly as the operator does, folded by list_reduce
    // in ascending-stratum order.
    "c_stratified_logrank" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT user_id % 3 AS st, user_id % 2 = 0 AS coh1,
        |    duration, last_d < gm.gmax - 7 AS ev FROM u CROSS JOIN gm),
        |cnt AS (SELECT st, duration AS t,
        |    CAST(SUM(CASE WHEN coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN NOT coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT st, t, d1, x1, d2, x2,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY st ORDER BY t)
        |      AS BIGINT) AS i FROM cnt),
        |tot AS (SELECT st, CAST(SUM(d1 + x1) AS BIGINT) AS n1,
        |    CAST(SUM(d2 + x2) AS BIGINT) AS n2,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(COUNT(*) AS BIGINT) AS m FROM ord GROUP BY 1),
        |lr AS (
        |  SELECT st, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS u1,
        |    CAST(0 AS BIGINT) AS u2, CAST(0 AS DOUBLE) AS oe,
        |    CAST(0 AS DOUBLE) AS v
        |  FROM (SELECT DISTINCT st FROM ord)
        |  UNION ALL
        |  SELECT o.st, o.i, lr.u1 + o.d1 + o.x1, lr.u2 + o.d2 + o.x2,
        |    lr.oe + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST(o.d1 AS DOUBLE)
        |        - CAST(o.d1 + o.d2 AS DOUBLE)
        |          * CAST(tot.n1 - lr.u1 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END,
        |    lr.v + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST(o.d1 + o.d2 AS DOUBLE)
        |        * (CAST(tot.n1 - lr.u1 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |        * (CAST(tot.n2 - lr.u2 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |        * (CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |            - (o.d1 + o.d2) AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) - 1
        |            AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END
        |  FROM lr JOIN ord o ON o.st = lr.st AND o.i = lr.i + 1
        |    JOIN tot ON tot.st = lr.st),
        |fin AS (SELECT lr.st, tot.n1, tot.n2, tot.o1,
        |    CAST(tot.o1 AS DOUBLE) - lr.oe AS e1, lr.v
        |  FROM lr JOIN tot ON tot.st = lr.st AND lr.i = tot.m),
        |fold AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(n1) AS BIGINT) AS n1,
        |    CAST(SUM(n2) AS BIGINT) AS n2,
        |    CAST(SUM(o1) AS BIGINT) AS o1,
        |    list_reduce(list(CAST(o1 AS DOUBLE) - e1 ORDER BY st),
        |      (a, b) -> a + b) AS oe_sum,
        |    list_reduce(list(v ORDER BY st), (a, b) -> a + b) AS v_sum
        |  FROM fin)
        |SELECT 'all' AS g, n_strata, n1, n2, o1, oe_sum, v_sum,
        |  CASE WHEN v_sum > 0 THEN oe_sum * oe_sum / v_sum END AS chi2,
        |  CASE WHEN v_sum > 0 THEN oe_sum / sqrt(v_sum) END AS z
        |FROM fold""".stripMargin,
    // Fleiss mirror: the same deterministic 3-event panel, exact
    // BIGINT cell/marginal sums, identical float tail.
    "a_fleiss_kappa" ->
      """WITH r AS (SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS rk
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT user_id, event_type FROM r WHERE rk <= 3),
        |ok AS (SELECT user_id FROM p GROUP BY 1 HAVING COUNT(*) = 3),
        |cell AS (SELECT p.user_id, p.event_type,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM p JOIN ok USING (user_id) GROUP BY 1, 2),
        |it AS (SELECT user_id, SUM(cnt) AS ni, SUM(cnt * cnt) AS sqi
        |  FROM cell GROUP BY 1),
        |g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(MAX(ni) AS BIGINT) AS n_raters,
        |    CAST(SUM(sqi) AS BIGINT) AS sumsq FROM it),
        |cj AS (SELECT event_type, SUM(cnt) AS c FROM cell GROUP BY 1),
        |g2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS sumcj2,
        |    CAST(COUNT(*) AS BIGINT) AS n_categories FROM cj),
        |f AS (SELECT n_items, n_raters, n_categories,
        |    CAST(sumsq - n_items * n_raters AS DOUBLE)
        |      / CAST(n_items * n_raters * (n_raters - 1) AS DOUBLE)
        |      AS p_bar,
        |    CAST(sumcj2 AS DOUBLE)
        |      / CAST((n_items * n_raters) * (n_items * n_raters)
        |        AS DOUBLE) AS p_e
        |  FROM g1 CROSS JOIN g2)
        |SELECT 'all' AS g, n_items, n_raters, n_categories, p_bar, p_e,
        |  (p_bar - p_e) / (CAST(1 AS DOUBLE) - p_e) AS kappa
        |FROM f""".stripMargin,
    // Aalen-Johansen mirror: cause-specific daily counts, the AJ
    // recursion carrying (used, p, cif1, cif2) — CIF increments at the
    // PRE-step survival, product steps after, verbatim the fold order.
    "c_cuminc" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    COUNT(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT duration,
        |    CASE WHEN last_d >= gm.gmax - 7 THEN 0
        |         WHEN cnt % 2 = 0 THEN 1 ELSE 2 END AS cause
        |  FROM u CROSS JOIN gm),
        |cnt AS (SELECT duration AS t,
        |    CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d2,
        |    CAST(SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c
        |  FROM obs GROUP BY 1),
        |ord AS (SELECT t, d1, d2, c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i
        |  FROM cnt),
        |nt AS (SELECT CAST(SUM(d1 + d2 + c) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) AS BIGINT) AS m FROM ord),
        |aj AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS cif1,
        |    CAST(0 AS DOUBLE) AS cif2, CAST(0 AS DOUBLE) AS t,
        |    CAST(0 AS BIGINT) AS nr, CAST(0 AS BIGINT) AS d1,
        |    CAST(0 AS BIGINT) AS d2
        |  UNION ALL
        |  SELECT o.i, aj.used + o.d1 + o.d2 + o.c,
        |    aj.p * (CAST(1 AS DOUBLE) - CAST(o.d1 + o.d2 AS DOUBLE)
        |      / CAST(nt.n_total - aj.used AS DOUBLE)),
        |    aj.cif1 + aj.p * (CAST(o.d1 AS DOUBLE)
        |      / CAST(nt.n_total - aj.used AS DOUBLE)),
        |    aj.cif2 + aj.p * (CAST(o.d2 AS DOUBLE)
        |      / CAST(nt.n_total - aj.used AS DOUBLE)),
        |    o.t, nt.n_total - aj.used, o.d1, o.d2
        |  FROM aj JOIN ord o ON o.i = aj.i + 1 CROSS JOIN nt)
        |SELECT 'all' AS g, t, nr AS n_risk, p AS survival,
        |  1 AS cause, d1 AS n_events, cif1 AS cif
        |FROM aj WHERE i > 0
        |UNION ALL
        |SELECT 'all' AS g, t, nr AS n_risk, p AS survival,
        |  2 AS cause, d2 AS n_events, cif2 AS cif
        |FROM aj WHERE i > 0
        |ORDER BY g, t, cause""".stripMargin,
    // mSPRT mirror: same counts, same fixed float tail, same literal
    // tau-squared; lambda/p @12dp, significant from the unrounded p.
    "a_msprt" ->
      """WITH a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0
        |      AND value > CAST(50 AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_t,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0
        |      AND value > CAST(50 AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_c
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT event_type, n_t, x_t, n_c, x_c,
        |    CASE WHEN n_t > 0 THEN CAST(x_t AS DOUBLE)
        |      / CAST(n_t AS DOUBLE) END AS pt,
        |    CASE WHEN n_c > 0 THEN CAST(x_c AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END AS pc
        |  FROM a),
        |d AS (SELECT event_type, n_t, x_t, n_c, x_c,
        |    pt - pc AS theta,
        |    pt * (CAST(1 AS DOUBLE) - pt) / CAST(n_t AS DOUBLE)
        |      + pc * (CAST(1 AS DOUBLE) - pc) / CAST(n_c AS DOUBLE)
        |      AS s2
        |  FROM b),
        |e AS (SELECT event_type, n_t, x_t, n_c, x_c, theta, s2,
        |    CASE WHEN s2 > 0 THEN
        |      sqrt(s2 / (s2 + CAST(0.0001 AS DOUBLE)))
        |        * exp(theta * theta * CAST(0.0001 AS DOUBLE)
        |          / (CAST(2 AS DOUBLE) * s2
        |            * (s2 + CAST(0.0001 AS DOUBLE)))) END AS lam
        |  FROM d),
        |f AS (SELECT event_type, n_t, x_t, n_c, x_c, theta, s2, lam,
        |    CASE WHEN lam IS NOT NULL
        |      THEN least(CAST(1 AS DOUBLE), CAST(1 AS DOUBLE) / lam)
        |      END AS p
        |  FROM e)
        |SELECT event_type, n_t, x_t, n_c, x_c, theta, s2,
        |  ROUND(lam, 12) AS lambda, ROUND(p, 12) AS p_always_valid,
        |  CASE WHEN p IS NOT NULL THEN p < CAST(0.05 AS DOUBLE) END
        |    AS significant
        |FROM f ORDER BY event_type""".stripMargin,
    // Qini mirror: same deterministic pseudo-score, same NTILE
    // buckets, exact cumulative window sums, identical float tail.
    "a_qini_curve" ->
      """WITH r AS (SELECT event_type,
        |    user_id % 2 = 0 AS t, value > CAST(50 AS DOUBLE) AS o,
        |    CAST((event_id * 2654435761) % 1000003 AS DOUBLE)
        |      / CAST(1000003 AS DOUBLE) AS score,
        |    event_id
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |n AS (SELECT event_type, t, o,
        |    NTILE(10) OVER (PARTITION BY event_type
        |      ORDER BY score DESC, event_id) AS bucket
        |  FROM r),
        |bb AS (SELECT event_type, bucket,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS bn_t,
        |    CAST(SUM(CASE WHEN t AND o THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bx_t,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bn_c,
        |    CAST(SUM(CASE WHEN NOT t AND o THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bx_c
        |  FROM n GROUP BY 1, 2),
        |cum AS (SELECT event_type, bucket,
        |    CAST(SUM(bn_t) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_t,
        |    CAST(SUM(bx_t) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS x_t,
        |    CAST(SUM(bn_c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_c,
        |    CAST(SUM(bx_c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS x_c,
        |    CAST(SUM(bn_t) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS tnt,
        |    CAST(SUM(bx_t) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS txt,
        |    CAST(SUM(bn_c) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS tnc,
        |    CAST(SUM(bx_c) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS txc
        |  FROM bb)
        |SELECT event_type, bucket, n_t, x_t, n_c, x_c,
        |  CASE WHEN n_c > 0 THEN CAST(x_t AS DOUBLE)
        |    - CAST(x_c AS DOUBLE) * CAST(n_t AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END AS gain,
        |  (CASE WHEN tnc > 0 THEN CAST(txt AS DOUBLE)
        |    - CAST(txc AS DOUBLE) * CAST(tnt AS DOUBLE)
        |      / CAST(tnc AS DOUBLE) END)
        |    * (CAST(n_t + n_c AS DOUBLE) / CAST(tnt + tnc AS DOUBLE))
        |    AS baseline,
        |  (CASE WHEN n_c > 0 THEN CAST(x_t AS DOUBLE)
        |    - CAST(x_c AS DOUBLE) * CAST(n_t AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END)
        |  - (CASE WHEN tnc > 0 THEN CAST(txt AS DOUBLE)
        |    - CAST(txc AS DOUBLE) * CAST(tnt AS DOUBLE)
        |      / CAST(tnc AS DOUBLE) END)
        |    * (CAST(n_t + n_c AS DOUBLE) / CAST(tnt + tnc AS DOUBLE))
        |    AS qini_contrib
        |FROM cum ORDER BY event_type, bucket""".stripMargin,
    // RMST mirror: the KM recursion carrying (p, prev_t, area); the
    // tail rectangle closes the integral on the final row.
    "c_rmst" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |mx AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS m,
        |    MAX(n_total) AS n_total FROM ord GROUP BY 1),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS pt,
        |    CAST(0 AS DOUBLE) AS area
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    o.t,
        |    km.area + km.p * (least(o.t, CAST(14 AS DOUBLE))
        |      - least(km.pt, CAST(14 AS DOUBLE)))
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1)
        |SELECT km.cohort, mx.n_total AS n_subjects,
        |  CAST(14 AS DOUBLE) AS tau,
        |  km.area + km.p * (CAST(14 AS DOUBLE)
        |    - least(km.pt, CAST(14 AS DOUBLE))) AS rmst
        |FROM km JOIN mx ON mx.cohort = km.cohort AND km.i = mx.m
        |ORDER BY km.cohort""".stripMargin,
    // SPRT mirror: same counts, same ln factors of the same decimal
    // literals, decision from the unrounded llr, output at 12dp.
    "a_sprt" ->
      """WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > CAST(50 AS DOUBLE) THEN 1
        |      ELSE 0 END) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |b AS (SELECT event_type, n, x,
        |    CAST(x AS DOUBLE)
        |      * ln(CAST(0.55 AS DOUBLE) / CAST(0.45 AS DOUBLE))
        |      + CAST(n - x AS DOUBLE)
        |      * ln((CAST(1 AS DOUBLE) - CAST(0.55 AS DOUBLE))
        |        / (CAST(1 AS DOUBLE) - CAST(0.45 AS DOUBLE))) AS llr,
        |    ln(CAST(0.2 AS DOUBLE)
        |      / (CAST(1 AS DOUBLE) - CAST(0.05 AS DOUBLE))) AS lo_b,
        |    ln((CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE))
        |      / CAST(0.05 AS DOUBLE)) AS hi_b
        |  FROM a)
        |SELECT event_type, n, x, ROUND(llr, 12) AS llr,
        |  ROUND(lo_b, 12) AS bound_lo, ROUND(hi_b, 12) AS bound_hi,
        |  CASE WHEN llr >= hi_b THEN 'accept_h1'
        |    WHEN llr <= lo_b THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM b ORDER BY event_type""".stripMargin,
    // Greenwood mirror: the KM recursion carrying (p, gw); the d = n
    // terminal time pins its term to 0 exactly as the operator does.
    "c_km_greenwood" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |km AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(1 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS gw,
        |    CAST(NULL AS DOUBLE) AS t, CAST(NULL AS BIGINT) AS d,
        |    CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS n_risk
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, km.used + o.d + o.c,
        |    km.p * (CAST(1 AS DOUBLE) - CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - km.used AS DOUBLE)),
        |    km.gw + CASE WHEN o.d < o.n_total - km.used
        |      THEN CAST(o.d AS DOUBLE)
        |        / (CAST(o.n_total - km.used AS DOUBLE)
        |          * CAST(o.n_total - km.used - o.d AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END,
        |    o.t, o.d, o.c, o.n_total - km.used
        |  FROM km JOIN ord o ON o.cohort = km.cohort AND o.i = km.i + 1)
        |SELECT cohort, t, n_risk, d AS n_events, c AS n_censored,
        |  p AS survival, p * p * gw AS var_s,
        |  greatest(CAST(0 AS DOUBLE),
        |    p - CAST(1.96 AS DOUBLE) * sqrt(p * p * gw)) AS ci_lo,
        |  least(CAST(1 AS DOUBLE),
        |    p + CAST(1.96 AS DOUBLE) * sqrt(p * p * gw)) AS ci_hi
        |FROM km WHERE i > 0 ORDER BY cohort, t""".stripMargin,
    // Tarone–Ware mirror: the Gehan recursion with sqrt(n) / its
    // square (written as the sqrt product) as the weights.
    "c_tarone_ware" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT user_id % 2 = 0 AS coh1, duration,
        |    last_d < gm.gmax - 7 AS ev FROM u CROSS JOIN gm),
        |cnt AS (SELECT duration AS t,
        |    CAST(SUM(CASE WHEN coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN NOT coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM obs GROUP BY 1),
        |ord AS (SELECT t, d1, x1, d2, x2,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i FROM cnt),
        |tot AS (SELECT CAST(SUM(d1 + x1) AS BIGINT) AS n1,
        |    CAST(SUM(d2 + x2) AS BIGINT) AS n2,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(COUNT(*) AS BIGINT) AS m FROM ord),
        |lr AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS u1,
        |    CAST(0 AS BIGINT) AS u2, CAST(0 AS DOUBLE) AS oe,
        |    CAST(0 AS DOUBLE) AS v
        |  UNION ALL
        |  SELECT o.i, lr.u1 + o.d1 + o.x1, lr.u2 + o.d2 + o.x2,
        |    lr.oe + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN sqrt(CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |          AS DOUBLE))
        |        * (CAST(o.d1 AS DOUBLE)
        |          - CAST(o.d1 + o.d2 AS DOUBLE)
        |            * CAST(tot.n1 - lr.u1 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END,
        |    lr.v + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN sqrt(CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |          AS DOUBLE))
        |        * sqrt(CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |          AS DOUBLE))
        |        * (CAST(o.d1 + o.d2 AS DOUBLE)
        |          * (CAST(tot.n1 - lr.u1 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |          * (CAST(tot.n2 - lr.u2 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |          * (CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |              - (o.d1 + o.d2) AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) - 1
        |              AS DOUBLE)))
        |      ELSE CAST(0 AS DOUBLE) END
        |  FROM lr JOIN ord o ON o.i = lr.i + 1 CROSS JOIN tot)
        |SELECT 'all' AS g, tot.n1, tot.n2, tot.o1, lr.oe AS oe, lr.v AS v,
        |  CASE WHEN lr.v > 0 THEN lr.oe * lr.oe / lr.v END AS chi2,
        |  CASE WHEN lr.v > 0 THEN lr.oe / sqrt(lr.v) END AS z
        |FROM lr CROSS JOIN tot WHERE lr.i = tot.m""".stripMargin,
    // NA mirror: the KM recursion with SUM folds h += d/n, v += d/n²
    // instead of the survival product — same grid, same stepping.
    "c_nelson_aalen" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |    duration, last_d < g.gmax - 7 AS ev FROM u CROSS JOIN g),
        |cnt AS (SELECT cohort, duration AS t,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1, 2),
        |ord AS (SELECT cohort, t, d, c,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY t)
        |      AS BIGINT) AS i,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      AS n_total
        |  FROM cnt),
        |na AS (
        |  SELECT cohort, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS used,
        |    CAST(0 AS DOUBLE) AS h, CAST(0 AS DOUBLE) AS v,
        |    CAST(NULL AS DOUBLE) AS t, CAST(NULL AS BIGINT) AS d,
        |    CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS n_risk
        |  FROM (SELECT DISTINCT cohort FROM ord)
        |  UNION ALL
        |  SELECT o.cohort, o.i, na.used + o.d + o.c,
        |    na.h + CAST(o.d AS DOUBLE)
        |      / CAST(o.n_total - na.used AS DOUBLE),
        |    na.v + CAST(o.d AS DOUBLE)
        |      / (CAST(o.n_total - na.used AS DOUBLE)
        |        * CAST(o.n_total - na.used AS DOUBLE)),
        |    o.t, o.d, o.c, o.n_total - na.used
        |  FROM na JOIN ord o ON o.cohort = na.cohort AND o.i = na.i + 1)
        |SELECT cohort, t, n_risk, d AS n_events, c AS n_censored,
        |  h AS cum_hazard, v AS var_hazard
        |FROM na WHERE i > 0 ORDER BY cohort, t""".stripMargin,
    // Gehan mirror: the log-rank recursion with the at-risk total n as
    // the O−E weight and n² as the V weight, same inner expressions.
    "c_gehan_logrank" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT user_id % 2 = 0 AS coh1, duration,
        |    last_d < gm.gmax - 7 AS ev FROM u CROSS JOIN gm),
        |cnt AS (SELECT duration AS t,
        |    CAST(SUM(CASE WHEN coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN NOT coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM obs GROUP BY 1),
        |ord AS (SELECT t, d1, x1, d2, x2,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i FROM cnt),
        |tot AS (SELECT CAST(SUM(d1 + x1) AS BIGINT) AS n1,
        |    CAST(SUM(d2 + x2) AS BIGINT) AS n2,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(COUNT(*) AS BIGINT) AS m FROM ord),
        |lr AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS u1,
        |    CAST(0 AS BIGINT) AS u2, CAST(0 AS DOUBLE) AS oe,
        |    CAST(0 AS DOUBLE) AS v
        |  UNION ALL
        |  SELECT o.i, lr.u1 + o.d1 + o.x1, lr.u2 + o.d2 + o.x2,
        |    lr.oe + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE)
        |        * (CAST(o.d1 AS DOUBLE)
        |          - CAST(o.d1 + o.d2 AS DOUBLE)
        |            * CAST(tot.n1 - lr.u1 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END,
        |    lr.v + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE)
        |        * CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE)
        |        * (CAST(o.d1 + o.d2 AS DOUBLE)
        |          * (CAST(tot.n1 - lr.u1 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |          * (CAST(tot.n2 - lr.u2 AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |          * (CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |              - (o.d1 + o.d2) AS DOUBLE)
        |            / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) - 1
        |              AS DOUBLE)))
        |      ELSE CAST(0 AS DOUBLE) END
        |  FROM lr JOIN ord o ON o.i = lr.i + 1 CROSS JOIN tot)
        |SELECT 'all' AS g, tot.n1, tot.n2, tot.o1, lr.oe AS oe, lr.v AS v,
        |  CASE WHEN lr.v > 0 THEN lr.oe * lr.oe / lr.v END AS chi2,
        |  CASE WHEN lr.v > 0 THEN lr.oe / sqrt(lr.v) END AS z
        |FROM lr CROSS JOIN tot WHERE lr.i = tot.m""".stripMargin,
    // ratio-uplift mirror: per-unit quantized sums, arm moment sums,
    // then the identical delta-method float tail.
    "a_ratio_uplift" ->
      """WITH b AS (SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS g,
        |    user_id % 2 = 0 AS t, user_id AS u,
        |    CASE WHEN event_type = 'purchase' AND value IS NOT NULL
        |      THEN CAST(floor(value * CAST(1000 AS DOUBLE)) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS qn,
        |    CASE WHEN event_type = 'view'
        |      THEN CAST(floor(CAST(1 AS DOUBLE) * CAST(1000 AS DOUBLE))
        |        AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS qd
        |  FROM events WHERE user_id IS NOT NULL),
        |pu AS (SELECT g, u, t, CAST(SUM(qn) AS BIGINT) AS yn,
        |    CAST(SUM(qd) AS BIGINT) AS yd
        |  FROM b GROUP BY 1, 2, 3),
        |a AS (SELECT g,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN t THEN yn ELSE 0 END) AS BIGINT) AS snt,
        |    CAST(SUM(CASE WHEN t THEN yd ELSE 0 END) AS BIGINT) AS sdt,
        |    CAST(SUM(CASE WHEN t THEN yn * yn ELSE 0 END) AS BIGINT)
        |      AS snnt,
        |    CAST(SUM(CASE WHEN t THEN yd * yd ELSE 0 END) AS BIGINT)
        |      AS sddt,
        |    CAST(SUM(CASE WHEN t THEN yn * yd ELSE 0 END) AS BIGINT)
        |      AS sndt,
        |    CAST(SUM(CASE WHEN NOT t THEN yn ELSE 0 END) AS BIGINT)
        |      AS snc,
        |    CAST(SUM(CASE WHEN NOT t THEN yd ELSE 0 END) AS BIGINT)
        |      AS sdc,
        |    CAST(SUM(CASE WHEN NOT t THEN yn * yn ELSE 0 END) AS BIGINT)
        |      AS snnc,
        |    CAST(SUM(CASE WHEN NOT t THEN yd * yd ELSE 0 END) AS BIGINT)
        |      AS sddc,
        |    CAST(SUM(CASE WHEN NOT t THEN yn * yd ELSE 0 END) AS BIGINT)
        |      AS sndc
        |  FROM pu GROUP BY 1),
        |r AS (SELECT g, n_t, n_c,
        |    CASE WHEN sdt <> 0 THEN CAST(snt AS DOUBLE)
        |      / CAST(sdt AS DOUBLE) END AS rt,
        |    CASE WHEN sdc <> 0 THEN CAST(snc AS DOUBLE)
        |      / CAST(sdc AS DOUBLE) END AS rc,
        |    snt, sdt, snnt, sddt, sndt, snc, sdc, snnc, sddc, sndc
        |  FROM a),
        |v AS (SELECT g, n_t, n_c, rt, rc,
        |    CASE WHEN n_t > 1 AND sdt <> 0 THEN
        |      ((CAST(snnt AS DOUBLE) - CAST(snt AS DOUBLE)
        |          * CAST(snt AS DOUBLE) / CAST(n_t AS DOUBLE))
        |        - CAST(2 AS DOUBLE) * rt * (CAST(sndt AS DOUBLE)
        |          - CAST(snt AS DOUBLE) * CAST(sdt AS DOUBLE)
        |            / CAST(n_t AS DOUBLE))
        |        + rt * rt * (CAST(sddt AS DOUBLE) - CAST(sdt AS DOUBLE)
        |          * CAST(sdt AS DOUBLE) / CAST(n_t AS DOUBLE)))
        |      / (CAST(n_t AS DOUBLE) - CAST(1 AS DOUBLE))
        |      / CAST(n_t AS DOUBLE)
        |      / ((CAST(sdt AS DOUBLE) / CAST(n_t AS DOUBLE))
        |        * (CAST(sdt AS DOUBLE) / CAST(n_t AS DOUBLE))) END AS vt,
        |    CASE WHEN n_c > 1 AND sdc <> 0 THEN
        |      ((CAST(snnc AS DOUBLE) - CAST(snc AS DOUBLE)
        |          * CAST(snc AS DOUBLE) / CAST(n_c AS DOUBLE))
        |        - CAST(2 AS DOUBLE) * rc * (CAST(sndc AS DOUBLE)
        |          - CAST(snc AS DOUBLE) * CAST(sdc AS DOUBLE)
        |            / CAST(n_c AS DOUBLE))
        |        + rc * rc * (CAST(sddc AS DOUBLE) - CAST(sdc AS DOUBLE)
        |          * CAST(sdc AS DOUBLE) / CAST(n_c AS DOUBLE)))
        |      / (CAST(n_c AS DOUBLE) - CAST(1 AS DOUBLE))
        |      / CAST(n_c AS DOUBLE)
        |      / ((CAST(sdc AS DOUBLE) / CAST(n_c AS DOUBLE))
        |        * (CAST(sdc AS DOUBLE) / CAST(n_c AS DOUBLE))) END AS vc
        |  FROM r)
        |SELECT g, n_t, n_c, rt AS ratio_t, rc AS ratio_c,
        |  rt - rc AS uplift, sqrt(vt + vc) AS se,
        |  CASE WHEN sqrt(vt + vc) > 0 THEN (rt - rc) / sqrt(vt + vc) END
        |    AS z
        |FROM v ORDER BY g""".stripMargin,
    // position/time-decay mirror: ordered paths by window functions,
    // dyadic step-decay weights via shift (order-insensitive exact
    // sums), per-touch floor(·10⁶) credits, zero-filled universe.
    "c_position_attribution" ->
      """WITH conv AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS cv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |tch AS (SELECT e.user_id, e.event_type AS ch, e.ts, e.event_id
        |  FROM events e JOIN conv c ON c.user_id = e.user_id
        |    AND c.cv = 1
        |  WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL
        |    AND e.event_type IN ('click', 'error', 'signup', 'view')),
        |p AS (SELECT user_id, ch, ts,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS k,
        |    MAX(ts) OVER (PARTITION BY user_id) AS t_last
        |  FROM tch),
        |w AS (SELECT user_id, ch, i, k,
        |    CAST(1 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << CAST(
        |      least(CAST(40 AS BIGINT),
        |        CAST(floor(CAST(CAST(floor(epoch(t_last)) AS BIGINT)
        |            - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE)
        |          / CAST(86400 AS DOUBLE) / CAST(7 AS DOUBLE))
        |          AS BIGINT)) AS INTEGER) AS DOUBLE) AS wd
        |  FROM p),
        |s AS (SELECT user_id, ch, i, k, wd,
        |    SUM(wd) OVER (PARTITION BY user_id) AS sw
        |  FROM w),
        |cr AS (SELECT ch,
        |    CASE WHEN i = 1 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS ft,
        |    CASE WHEN i = k THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS lt,
        |    CASE WHEN k = 1 THEN CAST(1000000 AS BIGINT)
        |      WHEN k = 2 THEN CAST(500000 AS BIGINT)
        |      WHEN i = 1 OR i = k THEN CAST(400000 AS BIGINT)
        |      ELSE CAST(floor(CAST(0.2 AS DOUBLE)
        |        / (CAST(k AS DOUBLE) - CAST(2 AS DOUBLE))
        |        * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS uq,
        |    CAST(floor(wd / sw * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |      AS tdq
        |  FROM s),
        |agg AS (SELECT ch AS channel,
        |    CAST(SUM(ft) AS BIGINT) AS first_touch,
        |    CAST(SUM(lt) AS BIGINT) AS last_touch,
        |    CAST(SUM(uq) AS BIGINT) AS u_num,
        |    CAST(SUM(tdq) AS BIGINT) AS td_num
        |  FROM cr GROUP BY 1),
        |uni AS (SELECT * FROM (VALUES ('click'), ('error'), ('signup'),
        |  ('view')) AS t(channel))
        |SELECT uni.channel,
        |  COALESCE(first_touch, CAST(0 AS BIGINT)) AS first_touch,
        |  COALESCE(last_touch, CAST(0 AS BIGINT)) AS last_touch,
        |  COALESCE(u_num, CAST(0 AS BIGINT)) AS u_num,
        |  CAST(COALESCE(u_num, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS u_shaped,
        |  COALESCE(td_num, CAST(0 AS BIGINT)) AS td_num,
        |  CAST(COALESCE(td_num, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS time_decay
        |FROM uni LEFT JOIN agg ON agg.channel = uni.channel
        |ORDER BY uni.channel""".stripMargin,
    // QTE mirror: quantile_disc per arm (exact discrete order
    // statistics, the a_quantile_profile convention), lockstep unnest,
    // arm pivot + one subtraction.
    "c_qte" ->
      """WITH b AS (SELECT event_type, user_id % 2 = 0 AS t, value
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |q AS (SELECT event_type, t,
        |    quantile_disc(value, [0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM b GROUP BY 1, 2),
        |u AS (SELECT event_type, t,
        |    unnest(CAST([0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS prob,
        |    unnest(qs) AS v
        |  FROM q)
        |SELECT event_type, prob,
        |  MAX(CASE WHEN t THEN v END) AS q_t,
        |  MAX(CASE WHEN NOT t THEN v END) AS q_c,
        |  MAX(CASE WHEN t THEN v END)
        |    - MAX(CASE WHEN NOT t THEN v END) AS qte
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DiD mirror: same quantized cell sums and three-subtraction tail.
    "c_diff_in_diff" ->
      """WITH b AS (SELECT event_type, user_id % 2 = 0 AS t,
        |    day(CAST(ts AS DATE)) > 15 AS p,
        |    CAST(floor(value * CAST(1000 AS DOUBLE)) AS BIGINT) AS qy
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t_pre,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN qy ELSE 0 END) AS BIGINT)
        |      AS s_t_pre,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t_post,
        |    CAST(SUM(CASE WHEN t AND p THEN qy ELSE 0 END) AS BIGINT)
        |      AS s_t_post,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c_pre,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN qy ELSE 0 END)
        |      AS BIGINT) AS s_c_pre,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c_post,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN qy ELSE 0 END) AS BIGINT)
        |      AS s_c_post
        |  FROM b GROUP BY 1)
        |SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0
        |      AND n_c_post > 0 THEN
        |    (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
        |        / CAST(1000 AS DOUBLE)
        |      - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
        |        / CAST(1000 AS DOUBLE))
        |    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
        |        / CAST(1000 AS DOUBLE)
        |      - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)
        |        / CAST(1000 AS DOUBLE)) END AS did
        |FROM a ORDER BY 1""".stripMargin,
    // SRM mirror: same counts, same chi2 op order, same 10.828 gate.
    "a_srm_check" ->
      """WITH a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, n_t, n_c,
        |    CAST(n_t + n_c AS DOUBLE) * CAST(0.5 AS DOUBLE) AS e_t,
        |    CAST(n_t + n_c AS DOUBLE) * CAST(0.5 AS DOUBLE) AS e_c
        |  FROM a)
        |SELECT event_type, n_t, n_c,
        |  CASE WHEN n_t + n_c > 0 THEN e_t END AS expected_t,
        |  CASE WHEN n_t + n_c > 0 THEN
        |    (CAST(n_t AS DOUBLE) - e_t) * (CAST(n_t AS DOUBLE) - e_t)
        |      / e_t
        |    + (CAST(n_c AS DOUBLE) - e_c) * (CAST(n_c AS DOUBLE) - e_c)
        |      / e_c END AS chi2,
        |  CASE WHEN n_t + n_c > 0 THEN
        |    ((CAST(n_t AS DOUBLE) - e_t) * (CAST(n_t AS DOUBLE) - e_t)
        |      / e_t
        |    + (CAST(n_c AS DOUBLE) - e_c) * (CAST(n_c AS DOUBLE) - e_c)
        |      / e_c) > CAST(10.828 AS DOUBLE) END AS srm
        |FROM f ORDER BY 1""".stripMargin,
    // Two-proportion mirror: exact counts, the same pooled-z op order.
    "a_proportion_uplift" ->
      """WITH b AS (SELECT event_type, user_id % 2 = 0 AS t,
        |    value > CAST(50 AS DOUBLE) AS o
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN t AND o THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_t,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(SUM(CASE WHEN NOT t AND o THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x_c
        |  FROM b GROUP BY 1)
        |SELECT event_type, n_t, x_t, n_c, x_c,
        |  CASE WHEN n_t > 0 THEN CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |    END AS rate_t,
        |  CASE WHEN n_c > 0 THEN CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |    END AS rate_c,
        |  (CASE WHEN n_t > 0 THEN CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |    END)
        |  - (CASE WHEN n_c > 0 THEN CAST(x_c AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END) AS uplift,
        |  CASE WHEN n_t > 0 AND n_c > 0 AND x_t + x_c > 0
        |      AND x_t + x_c < n_t + n_c THEN
        |    ((CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE))
        |      - (CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)))
        |    / sqrt((CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
        |      * (CAST(1 AS DOUBLE)
        |        - CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
        |      * (CAST(1 AS DOUBLE) / CAST(n_t AS DOUBLE)
        |        + CAST(1 AS DOUBLE) / CAST(n_c AS DOUBLE)))
        |  END AS z
        |FROM a ORDER BY 1""".stripMargin,
    // CUPED mirror: identical floor-quantized BIGINT moments, the
    // groupOls theta expression, and the same mean/adjustment tail.
    "c_cuped" ->
      """WITH b AS (SELECT event_type, user_id % 2 = 0 AS t,
        |    CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) AS qy,
        |    CAST(floor((value * CAST(0.8 AS DOUBLE)
        |      + CAST(event_id % 7 AS DOUBLE)) * CAST(100 AS DOUBLE))
        |      AS BIGINT) AS qx
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(qy) AS BIGINT) AS sy, CAST(SUM(qx) AS BIGINT) AS sx,
        |    CAST(SUM(qx * qx) AS BIGINT) AS sxx,
        |    CAST(SUM(qx * qy) AS BIGINT) AS sxy,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN t THEN qy ELSE 0 END) AS BIGINT) AS syt,
        |    CAST(SUM(CASE WHEN t THEN qx ELSE 0 END) AS BIGINT) AS sxt,
        |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN NOT t THEN qy ELSE 0 END) AS BIGINT)
        |      AS syc,
        |    CAST(SUM(CASE WHEN NOT t THEN qx ELSE 0 END) AS BIGINT)
        |      AS sxc
        |  FROM b GROUP BY 1),
        |f AS (SELECT event_type, n, n_t, n_c,
        |    CASE WHEN n * sxx - sx * sx <> 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CASE WHEN n_t > 0 THEN CAST(syt AS DOUBLE)
        |      / CAST(n_t AS DOUBLE) END AS myt,
        |    CASE WHEN n_t > 0 THEN CAST(sxt AS DOUBLE)
        |      / CAST(n_t AS DOUBLE) END AS mxt,
        |    CASE WHEN n_c > 0 THEN CAST(syc AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END AS myc,
        |    CASE WHEN n_c > 0 THEN CAST(sxc AS DOUBLE)
        |      / CAST(n_c AS DOUBLE) END AS mxc,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxa
        |  FROM a)
        |SELECT event_type, n, n_t, n_c, theta,
        |  (myt - myc) / CAST(100 AS DOUBLE) AS uplift_raw,
        |  ((myt - theta * (mxt - mxa)) - (myc - theta * (mxc - mxa)))
        |    / CAST(100 AS DOUBLE) AS uplift_cuped
        |FROM f ORDER BY 1""".stripMargin,
    // Markov mirror: generated — see markovOracle's doc.
    "c_markov_attribution" -> markovOracle,
    // Shapley mirror: same per-user bitmask + conversion flag, the
    // subset-sum v(S) over all 16 coalitions, and the factorial-
    // weighted marginal sum — all exact BIGINTs until the /24.
    "c_shapley_attribution" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(SUM(DISTINCT CASE event_type WHEN 'click' THEN 1
        |      WHEN 'error' THEN 2 WHEN 'signup' THEN 4
        |      WHEN 'view' THEN 8 END) AS BIGINT) AS mask,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |vo AS (SELECT mask, CAST(SUM(cv) AS BIGINT) AS conv FROM pu
        |  WHERE mask > 0 GROUP BY 1),
        |co AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS s),
        |v AS (SELECT s, CAST(COALESCE(SUM(vo.conv), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN vo ON (vo.mask & co.s) = vo.mask GROUP BY s),
        |ch AS (SELECT * FROM (VALUES (0, 'click'), (1, 'error'),
        |    (2, 'signup'), (3, 'view')) AS t(i, channel)),
        |pairs AS (SELECT ch.channel, v1.v AS v0, v2.v AS v1v,
        |    CASE bit_count(v1.s) WHEN 0 THEN 6 WHEN 1 THEN 2
        |      WHEN 2 THEN 2 WHEN 3 THEN 6 END AS w
        |  FROM ch JOIN v v1 ON (v1.s & (1 << ch.i)) = 0
        |  JOIN v v2 ON v2.s = v1.s + (1 << ch.i))
        |SELECT channel, CAST(SUM(w * (v1v - v0)) AS BIGINT) AS phi_num,
        |  CAST(SUM(w * (v1v - v0)) AS DOUBLE) / CAST(24 AS DOUBLE) AS phi
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,
    // Log-rank mirror: the KM observations split even/odd, then the
    // (u1, u2, oe, v) fold replayed as a recursive CTE in the exact op
    // order (d*n1/n first, then the three-ratio variance product).
    "c_log_rank" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS DOUBLE) AS duration,
        |    MAX(CAST(ts AS DATE)) AS last_d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, event_type),
        |gm AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT user_id % 2 = 0 AS coh1, duration,
        |    last_d < gm.gmax - 7 AS ev FROM u CROSS JOIN gm),
        |cnt AS (SELECT duration AS t,
        |    CAST(SUM(CASE WHEN coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT coh1 AND ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN NOT coh1 AND NOT ev THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM obs GROUP BY 1),
        |ord AS (SELECT t, d1, x1, d2, x2,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i FROM cnt),
        |tot AS (SELECT CAST(SUM(d1 + x1) AS BIGINT) AS n1,
        |    CAST(SUM(d2 + x2) AS BIGINT) AS n2,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(COUNT(*) AS BIGINT) AS m FROM ord),
        |lr AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS u1,
        |    CAST(0 AS BIGINT) AS u2, CAST(0 AS DOUBLE) AS oe,
        |    CAST(0 AS DOUBLE) AS v
        |  UNION ALL
        |  SELECT o.i, lr.u1 + o.d1 + o.x1, lr.u2 + o.d2 + o.x2,
        |    lr.oe + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST(o.d1 AS DOUBLE)
        |        - CAST(o.d1 + o.d2 AS DOUBLE)
        |          * CAST(tot.n1 - lr.u1 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END,
        |    lr.v + CASE WHEN (tot.n1 - lr.u1) + (tot.n2 - lr.u2) > 1
        |        AND o.d1 + o.d2 > 0
        |      THEN CAST(o.d1 + o.d2 AS DOUBLE)
        |        * (CAST(tot.n1 - lr.u1 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |        * (CAST(tot.n2 - lr.u2 AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) AS DOUBLE))
        |        * (CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2)
        |            - (o.d1 + o.d2) AS DOUBLE)
        |          / CAST((tot.n1 - lr.u1) + (tot.n2 - lr.u2) - 1
        |            AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END
        |  FROM lr JOIN ord o ON o.i = lr.i + 1 CROSS JOIN tot)
        |SELECT 'all' AS g, tot.n1, tot.n2, tot.o1,
        |  CAST(tot.o1 AS DOUBLE) - lr.oe AS e1, lr.v AS v,
        |  CASE WHEN lr.v > 0 THEN lr.oe * lr.oe / lr.v END AS chi2,
        |  CASE WHEN lr.v > 0 THEN lr.oe / sqrt(lr.v) END AS z
        |FROM lr CROSS JOIN tot WHERE lr.i = tot.m""".stripMargin,
    // BH mirror: same pseudo-p arithmetic, same (p, id) ranking, and
    // the suffix minimum as an order-insensitive window MIN.
    "a_bh_fdr" ->
      """WITH d AS (SELECT lang, doc_id AS id,
        |    CAST((doc_id * 2654435761) % 1000003 AS DOUBLE)
        |      / CAST(1000003 AS DOUBLE) AS p
        |  FROM documents WHERE doc_id < 200),
        |r AS (SELECT lang, id, p,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, id)
        |      AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM d)
        |SELECT lang, id, p, rank,
        |  least(CAST(1 AS DOUBLE),
        |    MIN(p * CAST(n AS DOUBLE) / CAST(rank AS DOUBLE))
        |      OVER (PARTITION BY lang ORDER BY rank
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |    AS p_adj
        |FROM r ORDER BY lang, rank""".stripMargin,
    "a_psi_drift" ->
      """WITH c AS (
        |  SELECT lang, n_chars, doc_id % 2 = 0 AS coh,
        |    (CASE WHEN n_chars >= 50 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars >= 350 THEN 1 ELSE 0 END) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, bin,
        |    CAST(SUM(CASE WHEN coh THEN 1 ELSE 0 END) AS BIGINT) AS bn1,
        |    CAST(SUM(CASE WHEN NOT coh THEN 1 ELSE 0 END) AS BIGINT) AS bn2
        |  FROM c GROUP BY 1, 2),
        |t AS (SELECT lang, bin, bn1, bn2,
        |    SUM(bn1) OVER (PARTITION BY lang) AS t1,
        |    SUM(bn2) OVER (PARTITION BY lang) AS t2 FROM b),
        |x AS (SELECT lang, bin, bn1, bn2, t1, t2,
        |    (greatest(CASE WHEN t1 > 0
        |        THEN CAST(bn1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |        ELSE 0 END, 1e-6)
        |     - greatest(CASE WHEN t2 > 0
        |        THEN CAST(bn2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        |        ELSE 0 END, 1e-6))
        |    * ln(greatest(CASE WHEN t1 > 0
        |        THEN CAST(bn1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |        ELSE 0 END, 1e-6)
        |      / greatest(CASE WHEN t2 > 0
        |        THEN CAST(bn2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        |        ELSE 0 END, 1e-6)) AS contrib
        |  FROM t)
        |SELECT lang, CAST(MAX(t1) AS BIGINT) AS n1,
        |  CAST(MAX(t2) AS BIGINT) AS n2,
        |  CASE WHEN MAX(t1) > 0 AND MAX(t2) > 0 THEN
        |    ROUND(0.0 + list_reduce(list(contrib ORDER BY bin),
        |      (a, b) -> a + b), 12) END AS psi
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_welch_partials" -> welchSql,
    "a_welch_t" -> welchSql,
    // DuckDB SUM(BIGINT) is HUGEINT — exact, and the one double cast at
    // the end sees the same integer Spark's BIGINT path produced
    "a_gini_quantity" ->
      """WITH r AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS i
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(x) AS sum_x, SUM(i * x) AS six
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n, CAST(sum_x AS BIGINT) AS sum_x,
        |  CASE WHEN n * sum_x <> 0 THEN
        |    CAST(2 * six - (n + 1) * sum_x AS DOUBLE)
        |      / CAST(n * sum_x AS DOUBLE) END AS gini
        |FROM m ORDER BY 1""".stripMargin,
    "a_chi_square" ->
      """WITH m AS (SELECT
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus <> 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus = 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus <> 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM lineitem)
        |SELECT a, b, c, d, a + b + c + d AS n,
        |  CASE WHEN CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) <> 0 THEN
        |    CAST(a + b + c + d AS DOUBLE)
        |      * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE))
        |      / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |         * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
        |  END AS chi2
        |FROM m""".stripMargin,
    "t_winsorize_chars" ->
      """WITH b AS (SELECT lang,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT d.lang, CAST(d.n_chars AS DOUBLE) AS v,
        |    LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS c
        |  FROM documents d JOIN b USING (lang))
        |SELECT lang, MIN(c) AS clip_min, MAX(c) AS clip_max,
        |  CAST(SUM(CASE WHEN c > v THEN 1 ELSE 0 END) AS BIGINT) AS n_raised,
        |  CAST(SUM(CASE WHEN c < v THEN 1 ELSE 0 END) AS BIGINT) AS n_lowered,
        |  COUNT(*) AS n
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_group_ols" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT))
        |      AS BIGINT) AS syy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT))
        |      AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    CAST(sy * sxx - sx * sxy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS intercept,
        |  CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
        |    (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
        |FROM m ORDER BY 1""".stripMargin,
    // 283726776524341248.0 = (k-1)·2^52 for k=64 — exact as DOUBLE, so
    // the estimator is the single division both engines compute alike
    "a_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT l_returnflag,
        |    CAST(list_sum(list_transform(range(1, 14), j ->
        |      CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(l_partkey AS VARCHAR)), CAST(j AS INTEGER), 1))
        |        - 1 AS BIGINT) << (4 * (13 - CAST(j AS INTEGER)))))
        |      AS BIGINT) AS h
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, h,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h),
        |s AS (SELECT l_returnflag, COUNT(*) AS n, MAX(h) AS hk
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT s.l_returnflag,
        |  CASE WHEN s.n < 64 THEN CAST(s.n AS DOUBLE)
        |       ELSE 283726776524341248.0 / CAST(s.hk AS DOUBLE)
        |  END AS est_distinct,
        |  e.n_exact
        |FROM s JOIN (SELECT l_returnflag,
        |    COUNT(DISTINCT l_partkey) AS n_exact
        |  FROM lineitem GROUP BY 1) e USING (l_returnflag)
        |ORDER BY 1""".stripMargin,
    "w_topk_agg_orders" ->
      """SELECT o_custkey, rn, o_totalprice, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    // pri mirrors Spark's conv(substring(md5(id),1,13),16,10): fold the
    // first 13 hex digits into a 52-bit integer (exact as DOUBLE)
    "c_sample_per_group" ->
      """WITH p AS (SELECT lang, doc_id,
        |    CAST(list_sum(list_transform(range(1, 14), j ->
        |      CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INTEGER), 1))
        |        - 1 AS BIGINT) << (4 * (13 - CAST(j AS INTEGER)))))
        |      AS BIGINT) AS pri
        |  FROM documents)
        |SELECT lang, rn, CAST(pri AS DOUBLE) AS pri, doc_id FROM (
        |  SELECT lang, doc_id, pri,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY pri ASC, doc_id ASC) AS INTEGER) AS rn
        |  FROM p) WHERE rn <= 3 ORDER BY lang, rn""".stripMargin,
    // Digit-string log buckets mirrored op-for-op; q is CAST AS DOUBLE
    // because a bare 0.9 literal is DECIMAL in DuckDB and decimal-exact
    // 0.9*N lands on the other side of an integer than IEEE-double
    // 0.9*N — the rank would differ at exact-multiple group sizes
    "a_quantile_sketch" ->
      """WITH v AS (SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS vint
        |  FROM lineitem),
        |b AS (SELECT l_returnflag,
        |    (length(CAST(vint AS VARCHAR)) - 1) * 900
        |      + CAST(substring(rpad(CAST(vint AS VARCHAR), 3, '0'), 1, 3)
        |          AS INTEGER) - 100 AS bucket,
        |    CAST(concat(substring(rpad(CAST(vint AS VARCHAR), 3, '0'), 1, 3),
        |      repeat('0', length(CAST(vint AS VARCHAR)) - 1))
        |      AS DECIMAL(38,0)) AS lb,
        |    COUNT(*) AS cnt
        |  FROM v WHERE vint >= 0 GROUP BY 1, 2, 3),
        |c AS (SELECT l_returnflag, bucket, lb, cnt,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
        |      AS cum,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS total
        |  FROM b)
        |SELECT l_returnflag, q,
        |  CAST(MIN(lb) AS DOUBLE) / 10000.0 AS quantile_est
        |FROM c CROSS JOIN
        |  (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS q) qs
        |WHERE cum >= CEIL(q * total)
        |GROUP BY l_returnflag, q ORDER BY l_returnflag, q""".stripMargin,
    "a_percentile_family" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  min(l_quantity) AS qmin,
        |  max(l_quantity) AS qmax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // SCD2 mirror: lead() over (ts, event_id) — event_id breaks ts ties
    // identically in both engines
    "c_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts, value FROM events)
        |SELECT user_id, event_id, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  value
        |FROM e ORDER BY user_id, valid_from, event_id""".stripMargin,
    // sessionization mirror: identical lag + running-sum windows; gap in
    // exact integer microseconds; value total decimal-summed then one
    // double conversion (a float SUM would be order-dependent)
    // Rolling-window mirror: identical integer-microsecond RANGE frame
    // (inclusive 3-day trailing bound, peers included), exact decimal
    // sum, one final double cast.
    "w_rolling_3d" ->
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts, value,
        |    epoch_us(ts) AS us FROM events)
        |SELECT user_id, event_id, ts,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_3d,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS sum_3d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    // Funnel mirror: the same k stacked window-mins (CASE without ELSE
    // → NULL; `ts >= NULL` propagates NULL, so a user who never reached
    // step i−1 can never reach step i), then exact counts and one IEEE
    // division each for conversion.
    "c_funnel_steps" ->
      """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts,
        |    event_type FROM events),
        |s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t0 FROM e),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t0
        |      THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM s0),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t1
        |      THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |u AS (SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(t2) AS t2
        |  FROM s2 GROUP BY 1),
        |c AS (SELECT CAST(COUNT(t0) AS BIGINT) AS c0,
        |    CAST(COUNT(t1) AS BIGINT) AS c1,
        |    CAST(COUNT(t2) AS BIGINT) AS c2 FROM u)
        |SELECT step_idx, step, users,
        |  CAST(users AS DOUBLE) / CAST(c0 AS DOUBLE) AS conversion
        |FROM c CROSS JOIN LATERAL (
        |  SELECT * FROM (VALUES (0, 'view', c0), (1, 'click', c1),
        |    (2, 'purchase', c2)) v(step_idx, step, users))
        |ORDER BY step_idx""".stripMargin,
    "c_session_stats" ->
      """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts,
        |    value FROM events),
        |g AS (SELECT user_id, ts, value,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts, value,
        |    SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |      AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // native ASOF JOIN vs the engine's union+window formulation — two
    // different algorithms must agree row for row; µs truncation mirrors
    // Tables' nanos→micros read of events.ts
    "j_asof_prior_view" ->
      """WITH p AS (SELECT event_id, user_id,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, date_trunc('microseconds', ts) AS view_ts,
        |    MAX(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, v.view_ts AS prior_view_ts,
        |  v.view_value AS prior_view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.view_ts
        |ORDER BY p.event_id""".stripMargin,
    // The Bloom prefilter is semantically transparent (no false
    // negatives), so the oracle is the PLAIN join — equality proves the
    // pruning drops nothing it shouldn't.
    "j_bloom_prefilter_join" ->
      """SELECT p.p_size, COUNT(*) AS n_items,
        |  SUM(l.l_quantity) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_idle FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "u_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY 1""".stripMargin,
    "a_median_price" ->
      """SELECT o_orderpriority, MEDIAN(o_totalprice) AS median_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-column stat mirror: COUNT(DISTINCT) excludes nulls in both
    // engines; min/max stringified AFTER typed aggregation.
    "a_profile_columns" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value
           |FROM b""".stripMargin
      """WITH b AS (SELECT l_linenumber, l_returnflag,
        |    nullif(l_returnflag, 'A') AS flag_non_a,
        |    CAST(l_shipdate AS DATE) AS ship_date FROM lineitem)
        |""".stripMargin +
        Seq("l_linenumber", "l_returnflag", "flag_non_a", "ship_date")
          .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY 1")
    },
    // Exact mirror of Stats.exactMoments: identical integer moments,
    // identical final float tree (each CAST/÷/×/sqrt a single IEEE op —
    // sqrt is correctly rounded in both engines) → scores hash
    // bit-for-bit. DuckDB's HUGEINT sums cast back to BIGINT.
    "a6_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "a_exact_moments" -> exactMomentsSql,
    "a_incremental_moments" -> exactMomentsSql,
    // the typed-Aggregator twin is bit-identical by construction, so it
    // shares the oracle verbatim — the UDAF path is what is under test
    "a_exact_moments_udaf" -> exactMomentsSql,
    // Naive theta replay — the bucket rewrite must find exactly these
    // pairs; values pass through unchanged so doubles hash bit-for-bit.
    // Interval-overlap mirror: the NAIVE theta join — deliberately
    // ignorant of the grid decomposition, so a match proves every
    // overlapping pair is found exactly once.
    "j_interval_overlap" ->
      """WITH a AS (SELECT l_orderkey AS id_a, l_linenumber AS ln_a,
        |    l_partkey AS s_a,
        |    l_partkey + CAST(l_quantity AS BIGINT) AS e_a
        |  FROM lineitem WHERE l_orderkey % 97 = 0),
        |b AS (SELECT l_orderkey AS id_b, l_linenumber AS ln_b,
        |    l_partkey AS s_b,
        |    l_partkey + CAST(l_quantity AS BIGINT) AS e_b
        |  FROM lineitem WHERE l_orderkey % 89 = 1)
        |SELECT id_a, ln_a, id_b, ln_b, s_a, e_a, s_b, e_b,
        |  least(e_a, e_b) - greatest(s_a, s_b) AS overlap_len
        |FROM a JOIN b ON s_a <= e_b AND s_b <= e_a
        |ORDER BY id_a, ln_a, id_b, ln_b""".stripMargin,
    "j_band_pairs" ->
      """WITH e AS (SELECT event_id, value FROM events WHERE event_id < 400)
        |SELECT a.event_id AS id_a, b.event_id AS id_b,
        |  a.value AS va, b.value AS vb
        |FROM e a JOIN e b
        |  ON abs(a.value - b.value) <= 0.05 AND a.event_id < b.event_id
        |ORDER BY 1, 2""".stripMargin,
    // Decimal all the way: per-row products exact, sums exact, one
    // final double cast per column; averages as exact-sum / count in an
    // explicit tree (Spark's avg(decimal) stays decimal, DuckDB's
    // returns double — so neither engine's avg() is used).
    "a_tpch_q1" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |    CAST(l_discount AS DECIMAL(18,2)) AS disc,
        |    CAST(l_tax AS DECIMAL(18,2)) AS tax
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(qty) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(price) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(price * (CAST(1 AS DECIMAL(18,2)) - disc)) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(SUM(price * (CAST(1 AS DECIMAL(18,2)) - disc)
        |    * (CAST(1 AS DECIMAL(18,2)) + tax)) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(price) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(disc) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM li GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    
    "a6_cube_two_dims" ->
      """WITH d AS (SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow FROM events)
        |SELECT COALESCE(event_type, 'All') AS event_type,
        |  COALESCE(dow, -1) AS dow, COUNT(*) AS n
        |FROM d GROUP BY CUBE(event_type, dow)
        |ORDER BY event_type, dow""".stripMargin,
    "c6_monthly_counts" ->
      """SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "json_props_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS k_sum,
        |  CAST(MAX(CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS k_max
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_skew_salted_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "skew_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "f2_filter_pipeline" ->
      """SELECT lang, COUNT(*) AS n_kept FROM documents
        |WHERE n_chars >= 150 AND n_chars < 450
        |  AND (length(text) - length(replace(text, 'z', ''))) * 1.0 / length(text) <= 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f3_exclusion_counts" ->
      """WITH d AS (SELECT *,
        |    CASE WHEN doc_id % 7 = 0 THEN 'Other' ELSE 'Human' END AS host
        |  FROM documents)
        |SELECT CASE WHEN host <> 'Human' THEN 'non_human'
        |            WHEN n_chars < 150 THEN 'too_short'
        |            WHEN n_chars >= 450 THEN 'too_long'
        |            WHEN (length(text) - length(replace(text, 'X', ''))) * 1.0
        |                 / length(text) > 0.05 THEN 'too_ambiguous'
        |            ELSE 'kept' END AS exclusion_reason, COUNT(*) AS count
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "a9_pivot_api" ->
      """SELECT l_linenumber,
        |  SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS A,
        |  SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS N,
        |  SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS R
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a14_histogram_overflow" ->
      """SELECT CASE WHEN n_chars > 300 THEN 'Greater than 300'
        |            WHEN n_chars >= 200 AND n_chars <= 300 THEN '200 to 300'
        |            WHEN n_chars >= 100 AND n_chars < 200 THEN '100 to 200'
        |            WHEN n_chars >= 0 AND n_chars < 100 THEN '0 to 100'
        |            END AS bin, COUNT(*) AS count
        |FROM documents WHERE bin IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "j4_dash_fill_lookup" ->
      """WITH info AS (SELECT * FROM (VALUES ('purchase', 'revenue'),
        |    ('refund', 'revenue'), ('signup', 'growth')) AS v(event_type, category)),
        |c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT c.event_type, n, COALESCE(category, '-') AS category
        |FROM c LEFT JOIN info ON c.event_type = info.event_type
        |ORDER BY c.event_type""".stripMargin,
    "c12_long_types" ->
      """WITH d AS (SELECT CASE CAST(event_id % 5 AS INTEGER)
        |    WHEN 0 THEN 'sub' WHEN 1 THEN 'del' WHEN 2 THEN 'ins'
        |    WHEN 3 THEN 'ext' WHEN 4 THEN 'delins' END AS t FROM events)
        |SELECT t, CASE t WHEN 'sub' THEN 'Substitution' WHEN 'del' THEN 'Deletion'
        |    WHEN 'ins' THEN 'Insertion' WHEN 'ext' THEN 'Extension'
        |    WHEN 'delins' THEN 'Deletion-Insertion' END AS t_long,
        |  COUNT(*) AS n
        |FROM d GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "o6_top_by_row_sum" ->
      """WITH f AS (SELECT event_type,
        |    CAST(ts AS DATE) - CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS w,
        |    COUNT(*) AS freq FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(freq) AS BIGINT) AS total FROM f
        |GROUP BY 1 ORDER BY total DESC, event_type LIMIT 5""".stripMargin,
    "a2_dedup_survivors" ->
      """WITH g AS (SELECT md5(text) AS fp, MIN(doc_id) AS survivor_id
        |  FROM documents GROUP BY 1)
        |SELECT COUNT(*) AS n_clusters,
        |  CAST(SUM(survivor_id) AS BIGINT) AS survivor_id_sum FROM g""".stripMargin,
    "a16_unique_per_domain" ->
      """SELECT CASE WHEN p_size BETWEEN 1 AND 10 THEN 'small'
        |            WHEN p_size BETWEEN 11 AND 25 THEN 'medium'
        |            WHEN p_size BETWEEN 26 AND 49 THEN 'large'
        |            ELSE 'Other' END AS band,
        |  COUNT(DISTINCT p_name) AS unique_variants
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "w1_rank_family" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(RANK() OVER w AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
        |QUALIFY rnk <= 3
        |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin,
    // percent_rank/cume_dist: identical single-division definitions in
    // both engines → floats hash bit-for-bit.
    "w_distribution_family" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "u_except_all" ->
      """WITH s AS (SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |SELECT nationkey, COUNT(*) AS n_surviving
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
