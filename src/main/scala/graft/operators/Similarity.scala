package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    every base vector; one scan, no base-side shuffle, top-k per query
  *    via a window over the (|queries| × k)-bounded candidate set.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH. Base vectors are
  *    bucketed by sign-bit signature (one scan, deterministic planes from
  *    a seed); queries probe their own bucket plus all 1-bit-flip
  *    neighbors (multi-probe), so only bucket-collision pairs are scored.
  *    Candidate volume per query ≈ |base| × (numBits+1) / 2^numBits.
  *
  * All vector math is `zip_with` + `aggregate` over the array column in
  * DOUBLE precision — codegen'd, sequential per row, bit-deterministic.
  */
object Similarity {

  /** Dot product of two array<float|double> columns, accumulated left-to-
    * right in double — the codegen'd Catalyst expression
    * (graft.plans.VectorDot, registered by GraftSession). The built-in
    * `aggregate(zip_with(...))` formulation is interpreted and allocates
    * per row; this is the engine's scoring hot loop, so it gets the one
    * custom Expression (same result bit-for-bit). */
  def dot(a: Column, b: Column): Column = call_function("graft_vector_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; zero-norm vectors map to 0 (not NaN). */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed-norm pair — norms are per-VECTOR, so they
    * are computed once per row on each side BEFORE the pair join instead
    * of once per candidate pair (O(N+Q) vs O(N×Q) norm loops). */
  private def cosineWithNorms(qv: Column, bv: Column,
      qn: Column, bn: Column): Column = {
    val d = qn * bn
    when(d === 0, 0.0).otherwise(dot(qv, bv) / d)
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast); base never shuffles until the per-query window,
    * whose input is already cut to k per partition by the rank filter
    * running AFTER a partial sort — Spark plans window + filter(rn<=k)
    * with a rank-limit pushdown (WindowGroupLimit) so only k rows per
    * query survive each map task. */
  def bruteForceTopK(base: DataFrame, queries: DataFrame, k: Int,
      baseId: String = "vec_id", baseVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame =
    scoredTopK(base, queries, k, col(queryId) =!= col(baseId),
      baseId, baseVec, queryId, queryVec)

  /** Hard-negative mining for contrastive training: for each query, the
    * k most similar base vectors with a DIFFERENT label — the pairs that
    * teach an embedding model the most, per the standard in-batch /
    * mined-negatives recipe. Same broadcast-score-rank shape as
    * [[bruteForceTopK]] (queries broadcast, base never shuffles, rank
    * limit cuts to k per partition before the per-query window); the
    * label inequality is part of the pair filter, so excluded positives
    * never reach the scorer. For corpus-scale mining swap the base scan
    * for [[ivfTopK]]'s probed candidates — the filter composes
    * unchanged. */
  def hardNegatives(base: DataFrame, queries: DataFrame, k: Int,
      baseId: String = "vec_id", baseVec: String = "embedding",
      baseLabel: String = "label", queryId: String = "qid",
      queryVec: String = "qvec", queryLabel: String = "qlabel"): DataFrame =
    scoredTopK(base, queries, k,
      col(queryId) =!= col(baseId) && col(queryLabel) =!= col(baseLabel),
      baseId, baseVec, queryId, queryVec)

  private def scoredTopK(base: DataFrame, queries: DataFrame, k: Int,
      pairFilter: Column, baseId: String, baseVec: String,
      queryId: String, queryVec: String): DataFrame = {
    val baseN = base.withColumn("__bnorm", norm(col(baseVec)))
    val queryN = queries.withColumn("__qnorm", norm(col(queryVec)))
    val scored = baseN.crossJoin(broadcast(queryN))
      .filter(pairFilter)
      .withColumn("cos", cosineWithNorms(col(queryVec), col(baseVec),
        col("__qnorm"), col("__bnorm")))
    val w = Window.partitionBy(queryId).orderBy(col("cos").desc, col(baseId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(baseId).as("nid"), col("cos"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity-aware selection a retrieval/data-curation
    * pipeline runs AFTER top-N: greedily pick k candidates maximizing
    *
    *   λ·cos(q, c) − (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * so near-duplicates of an already-selected result stop winning.
    * Input is the per-query candidate frame an ANN stage produced
    * (qid, nid, cos-to-query, vec); the WHOLE greedy selection runs
    * IN-ROW per query over the ≤ maxCandidates collected array — k
    * nested scans, each candidate's redundancy term a zip-fold over
    * the ≤ k selected vectors — so the operator adds ONE exchange
    * (the per-query collect) regardless of k, and the data-sized work
    * stays in the ANN stage that built the candidates.
    *
    * Determinism: candidates collect in ascending-nid order; ties
    * break (score desc, nid asc); max over selected is
    * order-insensitive (array_max); every cosine is dot/(n·n) with
    * precomputed norms — the exact float ops a SQL mirror forms, so
    * selections replay engine-portably even though scores are floats.
    *
    * Output: (queryId, rank, nid) — rank 1..k in selection order
    * (fewer if the query has fewer candidates). */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double,
      queryId: String = "qid", baseId: String = "nid",
      cosCol: String = "cos", vecCol: String = "vec",
      maxCandidates: Int = 1024): DataFrame = {
    require(k >= 1 && k <= 64, s"k in 1..64, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    require(maxCandidates >= k && maxCandidates <= 4096,
      s"maxCandidates in [k, 4096], got $maxCandidates")
    val withN = candidates.withColumn("__nrm", norm(col(vecCol)))
    // ONE combined sorted list — index i is the SAME candidate in every
    // derived structure. (Two independently-sorted lists could misalign
    // when a (qid, nid) repeats with different cos/vec.)
    val collected = withN.groupBy(col(queryId))
      .agg(sort_array(collect_list(struct(
        col(baseId).cast("long").as("nid"),
        col(cosCol).cast("double").as("cos"),
        col(vecCol).cast("array<double>").as("vec"),
        col("__nrm").as("nrm")))).as("__cv"))
      .filter(assert_true(size(col("__cv")) <= maxCandidates,
        lit(s"mmrRerank: a query exceeds maxCandidates=$maxCandidates " +
          "— cut candidates with a top-N stage first")).isNull)
    // The pair matrix + greedy selection run in ONE memoized JVM udf
    // (r16, guide §4). The previous Catalyst form staged the N×N
    // pair-cosine matrix as a single-reference alias, which
    // CollapseProject INLINED into the selection fold — interpreted HOF
    // eval then recomputed the whole N²·dim matrix on EVERY element_at
    // inside the greedy loop (measured: 32.9 s for 5 queries × 50
    // candidates at sf0.1; 1.0 s as this udf). The udf replicates the
    // exact float semantics: dot = index-order sum of products (the
    // VectorDot kernel), cosine = dot/(n·n) with the collected
    // precomputed norms and the 0-denominator guard, score =
    // λ·cos − (1−λ)·maxSim in that IEEE order, ties (score equal) break
    // to the smaller nid, selection stops when no unselected candidate
    // remains. A NaN score compares false both ways, so a NaN-scored
    // candidate is never selected (a round where every unselected
    // candidate scores NaN ends the selection early); a null cosine
    // throws when the udf reads it.
    collected
      .withColumn("__sel", mmrSelectUdf(k, lambda)(col("__cv")))
      .select(col(queryId), posexplode(col("__sel")))
      .select(col(queryId), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("nid"))
  }

  /** Memoized per (k, λ) — ScalaUDF canonicalizes by function reference
    * (the Dedup.shinglePosting lesson). */
  private val mmrUdfByParams =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double),
      org.apache.spark.sql.expressions.UserDefinedFunction]()
  private def mmrSelectUdf(k: Int, lambda: Double)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    mmrUdfByParams.computeIfAbsent((k, lambda), { case (kk, lam) =>
      udf((cv: Seq[org.apache.spark.sql.Row]) => {
        val n = cv.length
        val nids = new Array[Long](n)
        val cos = new Array[Double](n)
        val vecs = new Array[Array[Double]](n)
        val nrm = new Array[Double](n)
        var i = 0
        while (i < n) {
          val r = cv(i)
          nids(i) = r.getLong(0); cos(i) = r.getDouble(1)
          vecs(i) = r.getSeq[Double](2).toArray; nrm(i) = r.getDouble(3)
          i += 1
        }
        // N×N pair cosines, exactly the VectorDot/ cosineWithNorms ops
        val sm = Array.ofDim[Double](n, n)
        i = 0
        while (i < n) {
          var j = 0
          while (j < n) {
            val d = nrm(i) * nrm(j)
            sm(i)(j) = if (d == 0) 0.0 else {
              val a = vecs(i); val b = vecs(j)
              var s = 0.0; var t = 0
              while (t < a.length) { s += a(t) * b(t); t += 1 }
              s / d
            }
            j += 1
          }
          i += 1
        }
        val selIds = new Array[Long](math.min(kk, n))
        val selIdx = new Array[Int](math.min(kk, n))
        var nSel = 0
        var round = 0
        var exhausted = false
        while (round < kk && !exhausted) {
          var bestScore = Double.NegativeInfinity
          var bestNid = -1L
          var bestCi = -1
          var ci = 0
          while (ci < n) {
            var already = false
            var s = 0
            while (s < nSel && !already) {
              if (selIds(s) == nids(ci)) already = true; s += 1
            }
            if (!already) {
              var maxSim = 0.0
              if (nSel > 0) {
                maxSim = Double.NegativeInfinity
                var sj = 0
                while (sj < nSel) {
                  val v = sm(ci)(selIdx(sj))
                  if (v > maxSim) maxSim = v
                  sj += 1
                }
              }
              val score = lam * cos(ci) - (1.0 - lam) * maxSim
              if (score > bestScore ||
                  (score == bestScore && nids(ci) < bestNid)) {
                bestScore = score; bestNid = nids(ci); bestCi = ci
              }
            }
            ci += 1
          }
          if (bestCi < 0) exhausted = true
          else { selIds(nSel) = bestNid; selIdx(nSel) = bestCi; nSel += 1 }
          round += 1
        }
        java.util.Arrays.copyOf(selIds, nSel)
      })
    })

  /** Deterministic random hyperplanes: `numBits` unit-free Gaussian-ish
    * vectors of dimension `dim`, from a seeded generator. */
  def randomPlanes(numBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Engine-portable hyperplanes: element (i, d) is derived from
    * `md5("plane:i:d")` — first 15 hex digits parsed base-16 (a 60-bit
    * int), scaled to [-1, 1) by `h / 2^59 - 1`. Any engine with an md5
    * can reproduce the planes exactly (DuckDB mirrors the decode with a
    * strpos shift-sum in BIGINT arithmetic — every 16^k term is a power
    * of two, so the intermediate casts are exact), which makes an
    * LSH-bucketed query oracle-checkable end to end: signature, probes,
    * and scores all recompute bit-identically outside Spark. Uniform
    * (not Gaussian) entries — for sign-bit signatures only direction
    * symmetry matters, not the marginal distribution. */
  def md5Planes(numBits: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until numBits).map { i =>
      (0 until dim).map { d =>
        val h = java.lang.Long.parseLong(hex(s"plane:$i:$d").substring(0, 15), 16)
        h.toDouble / (1L << 59).toDouble - 1.0
      }
    }
  }

  /** Sign-bit signature of a vector under the planes: bit i set iff
    * dot(vec, plane_i) ≥ 0. */
  def planeSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Buckets a query signature probes: its own, every 1-bit flip, and
    * (at `probeDepth = 2`) every 2-bit flip. Multi-probe depth is the
    * recall/cost dial: candidate volume ≈ N × Σ_{d≤depth} C(bits,d) /
    * 2^bits, so depth 2 at 6 bits probes 22/64 buckets — recall close to
    * brute force while the join stays bucket-equality only. */
  def probeBuckets(sig: Column, numBits: Int, probeDepth: Int = 1): Column = {
    require(probeDepth >= 0 && probeDepth <= 2, "probeDepth must be 0, 1, or 2")
    val flips1 = if (probeDepth >= 1)
      (0 until numBits).map(i => sig.bitwiseXOR(lit(1L << i))) else Seq.empty
    val flips2 = if (probeDepth >= 2)
      for { i <- 0 until numBits; j <- (i + 1) until numBits }
        yield sig.bitwiseXOR(lit((1L << i) | (1L << j)))
    else Seq.empty
    array(sig +: (flips1 ++ flips2): _*)
  }

  /** LSH-bucketed approximate top-k: join on bucket equality only, score
    * only collisions, then per-query top-k. No cartesian product appears
    * in the plan at any scale. */
  def lshTopK(base: DataFrame, queries: DataFrame, k: Int, numBits: Int = 10,
      dim: Int = 64, seed: Long = 42L,
      baseId: String = "vec_id", baseVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qvec",
      probeDepth: Int = 1): DataFrame =
    lshTopKWithPlanes(base, queries, k, randomPlanes(numBits, dim, seed),
      baseId, baseVec, queryId, queryVec, probeDepth)

  /** [[lshTopK]] over caller-supplied planes — pass [[md5Planes]] for the
    * engine-portable family an external oracle can mirror. */
  def lshTopKWithPlanes(base: DataFrame, queries: DataFrame, k: Int,
      planes: Seq[Seq[Double]],
      baseId: String = "vec_id", baseVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qvec",
      probeDepth: Int = 1): DataFrame = {
    val numBits = planes.size
    val baseB = base.withColumn("bucket", planeSignature(col(baseVec), planes))
      .withColumn("__bnorm", norm(col(baseVec)))
    val queryB = queries
      .withColumn("__qnorm", norm(col(queryVec)))
      .withColumn("bucket",
        explode(probeBuckets(planeSignature(col(queryVec), planes), numBits, probeDepth)))
    val scored = baseB.join(broadcast(queryB), Seq("bucket"))
      .filter(col(queryId) =!= col(baseId))
      .withColumn("cos", cosineWithNorms(col(queryVec), col(baseVec),
        col("__qnorm"), col("__bnorm")))
    val w = Window.partitionBy(queryId).orderBy(col("cos").desc, col(baseId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(baseId).as("nid"), col("cos"))
  }

  // -------------------------------------------------------------- IVF

  /** Squared-distance argmin rank against fixed centroids: index of the
    * nearest centroid by `-2·v·c + ||c||²` (the `||v||²` term is constant
    * per row), first-min tie-break. One codegen'd loop over the staged
    * flat matrix ([[graft.plans.CentroidArgmin]]) — the composed
    * array-of-dots form grew with k until whole-stage codegen bailed out
    * (k = 64 assignment measured ~100 s over 100k vectors interpreted,
    * <1 s native; arithmetic is bit-identical, asserted in spec). */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    call_function("graft_centroid_argmin", vec,
      typedLit(centroids.map(_.toSeq)))

  /** The seed rows for [[trainCentroids]]: the k smallest-id vectors.
    *
    * For integral id columns this avoids `orderBy(id).limit(k)`'s
    * TakeOrderedAndProject, whose driver-side merge pulls k candidates
    * PER PARTITION with their full embedding payload (k·P·dim floats of
    * driver heap at cluster scale). Instead [[Ranks.globalTopK]] reduces
    * 16-byte (id, id) pairs to the k winning ids on an executor, and a
    * second scan fetches just those k embeddings via a broadcast semi
    * join. A long id cast to double stays monotone (nearest rounding)
    * and the exact long tie-break restores any precision lost past 2^53,
    * so the winner set is exactly `ORDER BY id LIMIT k`.
    *
    * Non-integral ids (string doc keys) keep the TakeOrdered path — no
    * double-orderable surrogate preserves their sort order exactly, and
    * such callers are small/bounded by construction. */
  def seedRows(vectors: DataFrame, k: Int, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val integral = vectors.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // At few partitions TakeOrdered's driver merge is bounded (k·P rows)
    // and ONE job beats the aggregate+fetch pair — PQ training calls
    // this once per subspace, so per-call job overhead is measurable
    // (bench: 8 subspaces cost +1.1 s through the two-job path at
    // sf0.1). The k·P·payload driver hazard the aggregator path exists
    // for only appears at cluster-scale partition counts.
    val fewPartitions = vectors.rdd.getNumPartitions <= 64
    if (!integral || fewPartitions)
      vectors.orderBy(col(idCol)).limit(k).select(col(vecCol))
    else {
      val winners = graft.operators.Ranks.globalTopK(
        vectors.select(col(idCol)),
        ord = col(idCol).cast("double"), tie = col(idCol), k = k,
        asc = true)
      // no Sort node: the ≤ k fetched rows are ordered driver-side in
      // collectSeeds, so the whole seed plan is scan → 16-byte global
      // aggregate → broadcast-semi fetch
      vectors.join(broadcast(winners.select(col("tie").as("__seed_id"))),
          col(idCol) === col("__seed_id"))
        .select(col(idCol).cast("long").as("__seed_id"), col(vecCol))
    }
  }

  /** Collect [[seedRows]] to the driver in ascending-id order. */
  private def collectSeeds(vectors: DataFrame, k: Int, idCol: String,
      vecCol: String)(toD: Any => Double): Seq[Seq[Double]] = {
    val rows = seedRows(vectors, k, idCol, vecCol)
    if (rows.columns.length == 1)
      rows.collect().map(_.getSeq[Any](0).map(toD).toSeq).toSeq
    else
      rows.collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Any](1).map(toD).toSeq).toSeq
  }

  /** Lloyd's k-means over the vector column, centroids collected to the
    * driver each round (k × dim doubles — tiny). Deterministic: seeds from
    * the first k rows by id; empty clusters keep their previous centroid.
    * Per round: one scan for assignment + one (centroid, dim) aggregate —
    * scales to any corpus size because only centroids ever leave the
    * executors. */
  def trainCentroids(vectors: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] = {
    def toD(x: Any): Double = x match {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d
      case n: Number => n.doubleValue()
    }
    var centroids: Seq[Seq[Double]] =
      collectSeeds(vectors, k, idCol, vecCol)(toD)
    for (_ <- 0 until iters) {
      val assigned = vectors.withColumn("__c", nearestCentroid(col(vecCol), centroids))
      val sums = assigned
        .select(col("__c"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .groupBy("__c", "__pos")
        .agg(avg(col("__x")).as("__mean"))
        .collect()
      val byCentroid = sums.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        byCentroid.get(i) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          case None => old // empty cluster
        }
      }
    }
    centroids
  }

  /** IVF index: every base vector tagged with its inverted-list id. */
  def ivfIndex(base: DataFrame, centroids: Seq[Seq[Double]],
      vecCol: String = "embedding"): DataFrame =
    base.withColumn("ivf_list", nearestCentroid(col(vecCol), centroids))

  /** Per-cluster scatter over an assignment — the quality half of the
    * clustering block ([[trainCentroids]] fits, [[ivfIndex]] assigns,
    * this JUDGES): for every non-empty cluster, its size and the mean
    * point-to-centroid Euclidean distance `s` (the Davies–Bouldin
    * scatter term — how tight the cluster is, the number that says
    * whether an IVF layout or a SemDeDup threshold is actually
    * separating anything).
    *
    * Portability: each point's distance is one FIXED index-order
    * zip-fold + correctly-rounded √ (bit-identical cross-engine), then
    * floor-quantized at `quantScale` to a BIGINT whose per-cluster SUM
    * is exact and order-free (the calibrationPartials micro-logit
    * move) — `s` is the quantized mean, a fixed two-op float tail, so
    * every output column hashes with NO rounding. A double-based guard
    * raises before n·quantScale·maxDist can wrap the BIGINT sum.
    *
    * Scale: ONE aggregation over the assigned points (the centroid
    * table rides in as a broadcast literal join, k ≤ 4096 rows); the
    * output is k rows. Output: (listCol, n, qdist, s). */
  def clusterQuality(assigned: DataFrame, centroids: Seq[Seq[Double]],
      vecCol: String = "embedding", listCol: String = "ivf_list",
      quantScale: Double = 1e9): DataFrame = {
    require(centroids.nonEmpty && centroids.size <= 4096,
      s"clusterQuality needs 1 <= k <= 4096 centroids, got ${centroids.size}")
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF(listCol, "__ce"))
    val d2 = aggregate(zip_with(col(vecCol), col("__ce"),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, t) => acc + t)
    assigned.join(cents, listCol)
      .withColumn("__qd", floor(sqrt(d2) * lit(quantScale)).cast("long"))
      .groupBy(listCol)
      .agg(count(lit(1)).as("n"), sum(col("__qd")).as("qdist"),
        max(col("__qd")).as("__mq"))
      .filter(assert_true(col("n").cast("double") *
          col("__mq").cast("double") < lit(8.5e18),
        lit("clusterQuality: n·quantScale·maxDist approaches 2^63 — " +
          "the exact quantized sum would wrap; lower quantScale"))
        .isNull)
      .withColumn("s",
        col("qdist").cast("double") /
          (col("n").cast("double") * lit(quantScale)))
      .drop("__mq")
  }

  /** Davies–Bouldin index over a [[clusterQuality]] table: for each
    * non-empty cluster the worst similarity ratio
    * `max_{j≠i} (s_i + s_j) / d_ij` (scatter vs centroid separation),
    * averaged over clusters — LOWER is better-separated; the single
    * number that compares two IVF layouts or two k choices.
    *
    * `d_ij` is computed on the DRIVER from the centroid literals in
    * fixed index order (k² doubles — constants, not data) and joined
    * in; identical-centroid pairs (d = 0, a degenerate layout) are
    * excluded and surface via `n_degenerate_pairs` instead of an
    * infinity. The closing mean folds the per-cluster ratios in FIXED
    * cluster order (the Stats order-pinning) and divides by the count
    * of clusters that HAVE a ratio — a cluster whose every centroid
    * pair is degenerate contributes nothing to either side of the mean
    * (it is already surfaced via n_degenerate_pairs), so an
    * all-duplicate-centroid layout cannot bias db low. Everything after
    * [[clusterQuality]]'s one data pass runs on ≤ k² rows. Output: one
    * row (k_clusters, n_degenerate_pairs, db); with k = 1 there are no
    * centroid pairs at all, so k_clusters = 0 and db is null — DB is
    * undefined for a single cluster. */
  def daviesBouldin(quality: DataFrame, centroids: Seq[Seq[Double]],
      listCol: String = "ivf_list"): DataFrame = {
    val spark = quality.sparkSession
    import spark.implicits._
    def dist(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var k = 0
      while (k < a.size) {
        val t = a(k) - b(k); acc += t * t; k += 1
      }
      math.sqrt(acc)
    }
    val pairs = broadcast((for {
      i <- centroids.indices; j <- centroids.indices if i != j
    } yield (i, j, dist(centroids(i), centroids(j))))
      .toDF("__i", "__j", "__d"))
    val qi = quality.select(col(listCol).as("__i"), col("s").as("__si"))
    val qj = quality.select(col(listCol).as("__j"), col("s").as("__sj"))
    val ratios = pairs.join(qi, "__i").join(qj, "__j")
    val perCluster = ratios
      .groupBy(col("__i"))
      .agg(max(when(col("__d") > 0.0,
          (col("__si") + col("__sj")) / col("__d"))).as("__r"),
        sum(when(col("__d") === 0.0, 1L).otherwise(0L)).as("__deg"))
    perCluster
      .agg(count(lit(1)).as("k_clusters"),
        sum(col("__deg")).as("n_degenerate_pairs"),
        sort_array(collect_list(struct(col("__i"), col("__r")))).as("__rs"))
      .withColumn("__valid",
        filter(col("__rs"), s => s.getField("__r").isNotNull))
      .withColumn("db",
        when(size(col("__valid")) > 0,
          aggregate(col("__valid"), lit(0.0),
            (acc, s) => acc + s.getField("__r")) /
            size(col("__valid")).cast("double")))
      .drop("__rs", "__valid")
  }

  /** The coarse-probe ranking expression — ONE definition shared
    * verbatim by [[ivfTopK]], [[ivfPqTopK]] and [[probedLists]], because
    * the DuckDB oracle mirrors replay it and any per-call-site drift
    * (e.g. a tie-break tweak) would silently desynchronize the others:
    * per query, rank lists by (−2·q·c + ‖c‖², index) and keep the
    * `nProbe` best, as an array of (d, i) structs. */
  private def probeListsExpr(centroids: Seq[Seq[Double]],
      queryVec: String, nProbe: Int): Column = {
    val probeDists = array(centroids.map { c =>
      val norm2 = c.map(x => x * x).sum
      dot(col(queryVec), typedLit(c)) * -2 + norm2
    }: _*)
    slice(array_sort(zip_with(probeDists,
      sequence(lit(0), lit(centroids.size - 1)),
      (d, i) => struct(d.as("d"), i.as("i")))), 1, nProbe)
  }

  /** The per-query ADC lookup table (m × k subspace dot products) —
    * shared verbatim by [[pqTopK]] and [[ivfPqTopK]]. */
  private def adcLut(codebooks: Seq[Seq[Seq[Double]]],
      queryVec: String): Column = {
    val subDim = codebooks.head.head.size
    array(codebooks.zipWithIndex.map { case (cb, s) =>
      array(cb.map(c => dot(slice(col(queryVec), s * subDim + 1, subDim),
        typedLit(c))): _*)
    }: _*)
  }

  /** The ADC table-sum over a staged `__lut` — the FIXED left-to-right
    * subspace tree both oracle mirrors replay. */
  private def adcSum(m: Int, codeCol: String): Column =
    (0 until m).map { s =>
      element_at(element_at(col("__lut"), s + 1), col(codeCol).getItem(s) + 1)
    }.reduce(_ + _)

  /** IVF top-k: each query probes its `nProbe` nearest inverted lists; only
    * vectors in those lists are scored. Candidate volume per query ≈
    * |base| × nProbe / k — the classic recall/cost dial. */
  def ivfTopK(indexed: DataFrame, queries: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int = 2,
      baseId: String = "vec_id", baseVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val probes = queries
      .withColumn("__lists", probeListsExpr(centroids, queryVec, nProbe))
      .withColumn("ivf_list", explode(col("__lists.i")))
      .withColumn("ivf_list", col("ivf_list").cast("int"))
      .drop("__lists")
      .withColumn("__qnorm", norm(col(queryVec)))
    val baseN = indexed.withColumn("__bnorm", norm(col(baseVec)))
    val scored = baseN.join(broadcast(probes), Seq("ivf_list"))
      .filter(col(queryId) =!= col(baseId))
      .withColumn("cos", cosineWithNorms(col(queryVec), col(baseVec),
        col("__qnorm"), col("__bnorm")))
    val w = Window.partitionBy(queryId).orderBy(col("cos").desc, col(baseId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(baseId).as("nid"), col("cos"))
  }

  // --------------------------------------------------------- quantization

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `max(|x|)/127`, elements `round(x/scale)` in [-127, 127]. The
    * 100 TB storage path — a 4× cut over float32 (16× over float64)
    * before the vectors ever hit parquet, with the scale riding alongside
    * for dequantization (`x ≈ q·scale`). Pure column expressions
    * (deterministic IEEE double arithmetic), so the registered query is
    * oracle-checked exactly. Zero vectors quantize to all-zero (scale 0
    * guarded, no NaN).
    *
    * DataFrame-shaped (not a bare Column) so the scale is STAGED as its
    * own attribute before the per-element lambda references it — inlined,
    * the interpreted HOF would re-evaluate the O(d) array_max once per
    * element, making quantization O(d²) per vector. Adds
    * `outName = struct(scale double, qs array<tinyint>)`. */
  def quantizeInt8(df: DataFrame, vecCol: Column, outName: String): DataFrame = {
    val scale = col("__q8_scale")
    df.withColumn("__q8_scale",
        array_max(transform(vecCol, x => abs(x.cast("double")))) / 127d)
      .withColumn(outName, struct(
        scale.as("scale"),
        transform(vecCol, x =>
          when(scale === 0, 0)
            .otherwise(round(x.cast("double") / scale))
            .cast("tinyint")).as("qs")))
      .drop("__q8_scale")
  }

  /** Dequantize an int8-quantized embedding back to doubles. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("qs"),
      q => q.cast("double") * quantized.getField("scale"))

  // ------------------------------------------- product quantization (PQ)

  /** Per-subspace PQ codebooks (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the vector is split into `m`
    * contiguous `dim/m`-dim subvectors, each with its own `k`-entry
    * codebook learned by [[trainCentroids]] over the sliced column.
    * `iters = 0` keeps the deterministic seeding (the k lowest-id
    * subvectors verbatim) — the oracle-able form; Lloyd's-refined
    * codebooks are the quality path. Driver traffic: m × k × dim/m
    * doubles — KBs. */
  def trainPqCodebooks(vectors: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int = 5, idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    (0 until m).map { s =>
      trainCentroids(
        vectors.select(col(idCol),
          slice(col(vecCol), s * subDim + 1, subDim).as(vecCol)),
        k, iters, idCol, vecCol)
    }
  }

  /** PQ-encode: `pq_code` = the m nearest-sub-centroid ids ([[
    * nearestCentroid]] per slice — first-min tie-breaking), `pq_norm` =
    * the exact vector norm (for cosine reconstruction). This is the
    * 100 TB at-rest path: dim × 4 payload bytes become m code bytes
    * (k ≤ 256) + 8 norm bytes — 64-dim float32 compresses 16× at m=8 —
    * and ADC search never reopens the original vectors. */
  def pqEncode(base: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      vecCol: String = "embedding", codeCol: String = "pq_code",
      normCol: String = "pq_norm"): DataFrame = {
    val subDim = codebooks.head.head.size
    base
      .withColumn(codeCol, array(codebooks.zipWithIndex.map { case (cb, s) =>
        nearestCentroid(slice(col(vecCol), s * subDim + 1, subDim), cb)
      }: _*))
      .withColumn(normCol, norm(col(vecCol)))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query stages its
    * m × k lookup table of subspace dot products ONCE as a query-side
    * projection (queries are few and broadcast), then the encoded base is
    * scanned with m array lookups + adds per row — codegen'd column
    * arithmetic, never touching full vectors. Approximate cosine =
    * table-sum / (‖q‖ · pq_norm); the sum is a fixed left-to-right
    * expression tree so results are deterministic and engine-mirrorable.
    * Output matches [[bruteForceTopK]]: (qid, rank, nid, cos). */
  def pqTopK(encoded: DataFrame, queries: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      baseId: String = "vec_id", codeCol: String = "pq_code",
      normCol: String = "pq_norm",
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val q = queries
      .withColumn("__lut", adcLut(codebooks, queryVec))
      .withColumn("__qnorm", norm(col(queryVec)))
    val adc = adcSum(codebooks.size, codeCol)
    val d = col("__qnorm") * col(normCol)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col(queryId) =!= col(baseId))
      .withColumn("cos", when(d === 0, 0.0).otherwise(adc / d))
    val w = Window.partitionBy(queryId).orderBy(col("cos").desc, col(baseId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(baseId).as("nid"), col("cos"))
  }

  /** IVF-PQ composed search (Jégou et al., TPAMI 2011 §V — the FAISS
    * `IndexIVFPQ` shape): the coarse quantizer restricts each query to
    * its `nProbe` nearest inverted lists, and PQ asymmetric-distance
    * scores ONLY those lists' codes. Per-query work drops from
    * |base| × m lookups ([[pqTopK]]'s full scan) to
    * ≈ |base| × nProbe / k_coarse × m — at 100 TB the only tenable ANN
    * plan: the base is bucketed once (`ivfIndex` + [[pqEncode]], ideally
    * written partitioned by `ivf_list`), full-precision vectors are never
    * reopened, and each query's probe set prunes everything else at the
    * join. `indexedEncoded` must carry `ivf_list` + `codeCol`/`normCol`
    * (compose `pqEncode(ivfIndex(base, centroids), codebooks)`).
    *
    * The probed-lists ranking is [[ivfTopK]]'s expression verbatim and
    * the ADC table/sum is [[pqTopK]]'s verbatim (fixed left-to-right
    * subspace tree), so results equal pqTopK restricted to probed lists —
    * deterministic and engine-mirrorable (asserted in LlmOperatorsSpec).
    * Output: (qid, rank, nid, cos). */
  def ivfPqTopK(indexedEncoded: DataFrame, queries: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      nProbe: Int = 2, baseId: String = "vec_id", codeCol: String = "pq_code",
      normCol: String = "pq_norm",
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    // one broadcast row per (query, probed list): the m×k ADC table and
    // query norm are staged once and ride the broadcast to every executor
    val probes = queries
      .withColumn("__lists", probeListsExpr(centroids, queryVec, nProbe))
      .withColumn("ivf_list", explode(col("__lists.i")))
      .withColumn("ivf_list", col("ivf_list").cast("int"))
      .drop("__lists")
      .withColumn("__lut", adcLut(codebooks, queryVec))
      .withColumn("__qnorm", norm(col(queryVec)))
    val adc = adcSum(codebooks.size, codeCol)
    val d = col("__qnorm") * col(normCol)
    // equi-join on ivf_list: each base code meets exactly the queries
    // probing its list (assignment is unique, so no (qid, nid) dups)
    val scored = indexedEncoded.join(broadcast(probes), Seq("ivf_list"))
      .filter(col(queryId) =!= col(baseId))
      .withColumn("cos", when(d === 0, 0.0).otherwise(adc / d))
    val w = Window.partitionBy(queryId).orderBy(col("cos").desc, col(baseId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(baseId).as("nid"), col("cos"))
  }

  // ------------------------------------------- persisted IVF-PQ index

  /** A persisted ANN index: PQ codes partitioned by inverted list, plus
    * the two quantizers that built them. */
  final case class IvfPqIndex(data: DataFrame, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]])

  /** Persist an IVF-PQ index: the encoded base (`pqEncode(ivfIndex(...))`
    * output) lands as parquet PARTITIONED BY `ivf_list` — one directory
    * per inverted list — and both quantizers ride along as parquet under
    * `_quantizers/` (underscore-prefixed, so every parquet reader of the
    * index rows skips it). This layout IS the serving story at 100 TB:
    * a probe only opens its `nProbe` list directories — static partition
    * pruning when the probed lists are known (the [[probedLists]] +
    * filter path), dynamic partition pruning when they arrive as a
    * broadcast join side — so per-query I/O is nProbe/k of the index
    * regardless of corpus size, and the full-precision vectors are never
    * stored at all (codes + norms only).
    *
    * Quantizers round-trip as exploded (idx, pos, value) rows — parquet
    * doubles are bit-exact, no hand-rolled JSON float parsing. */
  def writeIvfPqIndex(indexedEncoded: DataFrame, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], path: String,
      codeCol: String = "pq_code", normCol: String = "pq_norm",
      baseId: String = "vec_id"): Unit = {
    val spark = indexedEncoded.sparkSession
    import spark.implicits._
    indexedEncoded.select(col(baseId), col(codeCol), col(normCol),
        col("ivf_list"))
      .write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (v, p) => (i, p, v) } }
      .toDF("ci", "pos", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_quantizers/centroids")
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, p) => (s, i, p, v) } } }
      .toDF("s", "ci", "pos", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_quantizers/codebooks")
  }

  /** Reload a [[writeIvfPqIndex]] layout. The returned `data` keeps
    * `ivf_list` as a PARTITION column: a subsequent
    * `filter(col("ivf_list").isin(...))` prunes at the file listing —
    * unprobed lists are never opened (plan-asserted in spec). */
  def readIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex = {
    val data = spark.read.parquet(path)
    val cents = spark.read.parquet(s"$path/_quantizers/centroids")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val cbs = spark.read.parquet(s"$path/_quantizers/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._3).map(_._4).toSeq))
    IvfPqIndex(data, cents, cbs)
  }

  /** Append new vectors to a persisted [[writeIvfPqIndex]] layout WITHOUT
    * a rebuild — the serving-time ingestion path: the stored quantizers
    * are FROZEN, arrivals are assigned to the existing inverted lists
    * and encoded with the existing codebooks, and the codes land as new
    * parquet files inside their list directories (partition-append;
    * probe-time pruning is untouched because pruning keys on the
    * directory, never the file set). This is the standard IVF append
    * discipline: the result is EXACTLY the index that a full re-encode
    * of the union under the same quantizers would produce (spec-pinned
    * equality), so appends are cheap and exact w.r.t. the frozen
    * quantizers, while distribution DRIFT degrades recall gradually —
    * schedule a quantizer re-train + [[writeIvfPqIndex]] rebuild when
    * drift metrics (e.g. rising mean distance-to-centroid on arrivals)
    * cross a threshold. Never retrain in place: codes encoded under two
    * codebook generations are not comparable.
    *
    * Returns the number of vectors appended. The only driver traffic is
    * the quantizer reload (k·dim + m·k·subDim doubles). */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      newVectors: DataFrame, baseId: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val idx = readIvfPqIndex(spark, path)
    val enc = pqEncode(ivfIndex(newVectors, idx.centroids, vecCol),
      idx.codebooks, vecCol)
    val out = enc.select(col(baseId), col("pq_code"), col("pq_norm"),
      col("ivf_list"))
    val n = newVectors.count()
    out.write.mode("append").partitionBy("ivf_list").parquet(path)
    n
  }

  /** The inverted lists a query set will probe (nProbe nearest per query,
    * deduplicated) — the [[ivfPqTopK]] probe ranking verbatim, collected
    * so a caller can PRE-FILTER a partitioned index
    * (`index.data.filter(col("ivf_list").isin(probedLists(...): _*))`)
    * and let static partition pruning skip every other list's files.
    * Driver traffic: ≤ nProbe × |queries| ints. */
  def probedLists(queries: DataFrame, centroids: Seq[Seq[Double]],
      nProbe: Int, queryVec: String = "qvec"): Seq[Int] = {
    queries
      .select(explode(probeListsExpr(centroids, queryVec, nProbe)).as("p"))
      .select(col("p.i").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Fail-fast bound for all-pairs (O(n²)) verification tails: counts at
    * most `maxRows + 1` input rows (limit-pushed, so the scan early-exits)
    * and refuses to proceed past the cap. An UNBOUNDED all-pairs call on a
    * corpus would plan a BroadcastNestedLoopJoin over n² pairs — this
    * turns that silent scale-killer into an immediate error naming the
    * scale path. */
  def requireBounded(df: DataFrame, maxRows: Long, what: String): DataFrame = {
    val n = df.limit(math.min(maxRows + 1, Int.MaxValue).toInt).count()
    require(n <= maxRows,
      s"$what: input has more than $maxRows rows — the all-pairs form is " +
        "only for already-bucketed candidate groups; bucket first " +
        "(minhashNearDuplicates / simhashNearDuplicates / lshTopK) and " +
        "run the exact tail per bucket, or raise maxRows deliberately")
    df
  }

  /** Embedding-cosine near-duplicate pairs within a bounded id subset —
    * the exact-verification tail of an embedding-dedup pipeline. For the
    * full corpus use [[lshTopK]]-style bucketing first; this all-pairs form
    * is only for already-bucketed candidate groups, and [[requireBounded]]
    * fails fast (default cap 10k rows ≈ 50M pairs) if called on more. */
  def cosineNearDupPairs(vectors: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Long = 10000): DataFrame = {
    val bounded = requireBounded(vectors, maxRows, "cosineNearDupPairs")
    val withNorm = bounded.withColumn("__n", norm(col(vecCol)))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("__n").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("__n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= minCosine)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic near-duplicate PAIRS (Abbas et al. 2023,
    * arXiv:2303.09540 — "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): assign every embedding to its
    * nearest centroid, then score all pairs ONLY within each cluster.
    * The global O(n²) cosine problem becomes k independent O((n/k)²)
    * problems co-located by ONE equi-shuffle on the cluster id — at 100 TB
    * the corpus never meets itself across clusters, and k is the dial
    * that keeps per-cluster work bounded (the paper runs k = 11k over
    * 100M+ embeddings for exactly this reason).
    *
    * Centroids come from the caller ([[trainCentroids]]; `iters = 0` for
    * an engine-portable deterministic seed set). A cluster exceeding
    * `maxClusterRows` is automatically re-clustered via [[semanticAssign]]
    * (recursive sub-k-means up to `maxSplitDepth` levels); the fail-fast
    * guard survives as the recursion floor.
    *
    * Output: (id_a, id_b, cluster, cos) with id_a < id_b. Cross-cluster
    * near-dups are invisible by design — the method's published
    * recall/cost trade, not an accident (documented, and the bounded
    * exact [[cosineNearDupPairs]] remains the ground-truth tail). */
  def semanticDedupPairs(vectors: DataFrame, centroids: Seq[Seq[Double]],
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxClusterRows: Long = 100000, maxSplitDepth: Int = 3): DataFrame = {
    val indexed = semanticAssign(vectors, centroids, idCol, vecCol,
        maxClusterRows, maxSplitDepth)
      .withColumn("__n", norm(col(vecCol)))
    val a = indexed.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = indexed.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosineWithNorms(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cos"))
  }

  /** Nearest-centroid assignment with automatic SPLITTING of oversized
    * clusters: after the argmin assign, any cluster larger than
    * `maxClusterRows` is re-clustered by a fresh [[trainCentroids]] run
    * over just that cluster's rows, recursively, up to `maxSplitDepth`
    * levels; a cluster still oversized at the floor fails fast exactly as
    * the pre-split guard did (all-identical vectors, for example, cannot
    * be split by any k). Per-cluster work everywhere downstream stays
    * bounded by `maxClusterRows` — the skewed-corpus failure mode of flat
    * SemDeDup becomes a local, deterministic re-cluster instead of an
    * operator intervention.
    *
    * Cluster ids: a corpus that never trips the guard keeps the raw
    * centroid indices (so existing oracle replays are unchanged); split
    * products are numbered from `centroids.size` upward in deterministic
    * (parent-ascending, depth-first) order.
    *
    * Scale: sizes are one tiny groupBy-count collect per level (≤ k
    * rows); each split re-scans only the offending cluster's rows — the
    * compliant majority of the corpus is assigned in a single pass. */
  def semanticAssign(vectors: DataFrame, centroids: Seq[Seq[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterRows: Long = 100000, maxSplitDepth: Int = 3): DataFrame = {
    var nextId = centroids.size
    def go(df: DataFrame, cents: Seq[Seq[Double]], depth: Int,
        keepIds: Boolean): DataFrame = {
      val indexed = ivfIndex(df, cents, vecCol)
      val sizes = indexed.groupBy("ivf_list").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      val oversized = sizes.keys.filter(i => sizes(i) > maxClusterRows).toSeq.sorted
      if (oversized.isEmpty && keepIds)
        return indexed.withColumnRenamed("ivf_list", "cluster")
      require(oversized.isEmpty || depth > 0,
        s"semanticAssign: cluster of ${oversized.map(sizes).max} rows still " +
          s"exceeds $maxClusterRows at the recursion floor — the rows are " +
          "too concentrated to split (raise maxClusterRows or maxSplitDepth " +
          "deliberately, or train more top-level centroids)")
      val compliant = sizes.keys.toSeq.sorted.filterNot(oversized.contains)
      val alloc: Map[Int, Int] = compliant.map { i =>
        i -> (if (keepIds) i else { val n = nextId; nextId += 1; n })
      }.toMap
      val kept =
        if (alloc.isEmpty) Nil
        else {
          val base = if (oversized.isEmpty) indexed
            else indexed.filter(!col("ivf_list").isin(oversized: _*))
          Seq(base
            .withColumn("cluster", element_at(typedLit(alloc), col("ivf_list")))
            .drop("ivf_list"))
        }
      val splits = oversized.map { i =>
        val sub = indexed.filter(col("ivf_list") === i).drop("ivf_list")
        val subK = math.max(2, math.min(64,
          math.ceil(sizes(i) * 2.0 / maxClusterRows).toInt))
        val subCents = trainCentroids(sub, subK, iters = 2, idCol, vecCol)
        go(sub, subCents, depth - 1, keepIds = false)
      }
      (kept ++ splits).reduce(_.unionByName(_))
    }
    go(vectors, centroids, maxSplitDepth, keepIds = true)
  }

  /** SemDeDup survivors: [[semanticDedupPairs]] → connected components →
    * one canonical survivor (min id) per duplicate component; pair-less
    * vectors survive as their own cluster. (The paper keeps the member
    * farthest from the centroid; min-id is this library's deterministic
    * survivor convention everywhere — [[graft.operators.Dedup.dedupCorpus]]
    * — and is layout- and engine-independent.) Returns the kept ids. */
  def semanticDedup(vectors: DataFrame, centroids: Seq[Seq[Double]],
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxClusterRows: Long = 100000, maxSplitDepth: Int = 3): DataFrame = {
    val pairs = semanticDedupPairs(vectors, centroids, minCosine,
      idCol, vecCol, maxClusterRows, maxSplitDepth)
    graft.operators.Dedup.assignComponentsOrSelf(vectors, col(idCol),
        pairs.select("id_a", "id_b"))
      .filter(col("id") === col("label"))
      .select(col("id"))
  }
}
