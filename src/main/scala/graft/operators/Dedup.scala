package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Design rules (SURVEY.md §4, pre-registered in VERDICT r1):
  *  - NEVER shuffle raw document bytes as a grouping key — group on an
  *    8-byte `xxhash64` (plus sha2 to make collisions negligible);
  *  - near-dup candidate generation is ALWAYS bucket-join shaped (LSH
  *    bands / simhash bands / rare shingles) — never an all-pairs product;
  *  - mega-buckets (boilerplate shingles shared by millions of docs) are
  *    dropped by an explicit document-frequency cap, the standard guard
  *    against quadratic bucket blowup.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup clusters, hash-bucketed: one row per distinct content with
    * `cluster_size`, the representative (minimum) id, and a `Uniq<n>` name
    * (USEARCH `fastx_uniques` contract,
    * `/root/reference/Time_Series.py:471–478`, `MSA_Reader.py:1296–1297`).
    *
    * The shuffle key is (xxhash64, sha2) — 40 bytes — not the document.
    * The `Uniq` rank is assigned by [[Ranks.globalRowNumber]] (two-phase:
    * range-repartition + per-partition offsets), NOT a partition-less
    * window — a 100 TB corpus still has billions of distinct clusters, so
    * the post-agg table must never collapse to one task.
    */
  def exactClusters(df: DataFrame, idCol: Column, contentCol: Column): DataFrame = {
    val clusters = df.select(idCol.as("id"),
        xxhash64(contentCol).as("h64"), sha2(contentCol.cast("binary"), 256).as("h256"))
      .groupBy("h64", "h256")
      .agg(count(lit(1)).as("cluster_size"), min(col("id")).as("first_id"))
    Ranks.globalRowNumber(clusters,
        Seq(col("cluster_size").desc, col("first_id").asc), "__uniq_rank")
      .withColumn("cluster_id", concat(lit("Uniq"), col("__uniq_rank")))
      .drop("__uniq_rank")
  }

  /** Survivors of exact dedup: the representative id per cluster. */
  def exactSurvivors(df: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    df.select(idCol.as("id"), xxhash64(contentCol).as("h64"),
        sha2(contentCol.cast("binary"), 256).as("h256"))
      .groupBy("h64", "h256").agg(min(col("id")).as("id"))
      .select("id")

  // ------------------------------------------------------------- shingles

  /** One row per (id, distinct word `k`-shingle). Tokenization happens in
    * its OWN projection (toks is referenced twice, so CollapseProject keeps
    * it a materialized attribute) and the shingle array is built from that
    * attribute — per-row cost O(tokens × k), then a single Generate.
    *
    * Never build shingles inline inside per-hash lambdas: Catalyst
    * higher-order functions are interpreted, and an inlined tokenizer
    * re-runs per lambda element — O(numHashes × shingles × tokenize) per
    * row (measured: minutes for 10k short docs). Exploding first keeps
    * every downstream hash a codegen'd scalar on an attribute. */
  def shinglePosting(df: DataFrame, idCol: Column, textCol: Column,
      k: Int): DataFrame = {
    val toks = df.select(idCol.as("id"),
      TextAnalysis.wsTokens(TextAnalysis.normalized(textCol)).as("toks"))
    // shingle building + per-doc distinct as ONE JVM udf (r16, guide §4):
    // the Catalyst form (transform-lambda of concat_ws slices, then
    // array_distinct) is interpreted per element — profiled at sf0.1 it
    // was +0.51 s over the token pass, vs ~0.1 s for the JVM loop; the
    // tokenization itself STAYS a Catalyst expression so its regex
    // semantics (and the oracle mirrors) are untouched. Same contract as
    // explode(array_distinct(shinglesFromTokens)): <k tokens → the single
    // all-tokens shingle, first-occurrence order, null toks → no rows.
    val shingles = toks.select(col("id"),
      explode(distinctShinglesUdf(k)(col("toks"))).as("sh"))
    shingles
  }

  /** JVM twin of `array_distinct(shinglesFromTokens(toks, k))` — see
    * [[shinglePosting]]. One LinkedHashSet pass preserves the
    * first-occurrence order array_distinct guarantees.
    *
    * MEMOIZED per k: ScalaUDF expressions canonicalize by FUNCTION
    * REFERENCE, so a fresh closure per call would make two invocations
    * of the same query build non-matching plans — CacheManager then
    * misses on the minhash pipelines' `.cache()`d postings and every
    * run re-materializes (measured 4× on d_minhash_neardups) while the
    * orphaned old entries pile up in storage memory. */
  private val shingleUdfByK =
    new java.util.concurrent.ConcurrentHashMap[Int,
      org.apache.spark.sql.expressions.UserDefinedFunction]()
  private def distinctShinglesUdf(k: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    shingleUdfByK.computeIfAbsent(k, buildShingleUdf(_))
  private def buildShingleUdf(k: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((toks: Seq[String]) =>
      if (toks == null) null
      else if (toks.length < k) Array(toks.mkString(" "))
      else {
        val arr = toks.toArray
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i <= arr.length - k) {
          val sb = new java.lang.StringBuilder
          var j = i
          while (j < i + k) {
            if (j > i) sb.append(' ')
            sb.append(arr(j)); j += 1
          }
          seen.add(sb.toString): Unit
          i += 1
        }
        seen.toArray(new Array[String](seen.size()))
      })

  /** The k-shingle array over a token column (pre-distinct). `toks` MUST
    * be a materialized attribute (a staged `withColumn`/projection), not
    * an inline tokenizer expression: the slice lambda references it once
    * per shingle, and Catalyst HOFs are interpreted, so an inline
    * expression would re-tokenize O(shingles) times per row — the
    * documented round-2 trap. [[shinglePosting]] and
    * [[graft.streaming.StreamingTimeSeries.streamingDecontaminate]] both
    * stage it. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  // -------------------------------------------------------------- minhash

  /** The hash triple minhash is built from: `prepare(sh)` is staged ONCE
    * per (id, shingle) row as its own projected attribute (the expensive
    * digest goes here — never inside the per-seed expressions, where
    * it would be recomputed `numHashes` times); `shingleHash(prepared,
    * seed)` produces the per-seed orderable hash the signature takes
    * minima of; `bucketHash(bandSlice)` collapses one band's
    * sub-signature (an array column) to a join key. */
  final case class MinhashFamily(
      prepare: Column => Column,
      shingleHash: (Column, Int) => Column,
      bucketHash: Column => Column)

  /** Default family: seeded xxhash64 — 8-byte signature entries, the 100 TB
    * shuffle-width choice. Spark-only (no SQL twin). */
  val XxMinhash: MinhashFamily =
    MinhashFamily(identity, (sh, seed) => xxhash64(sh, lit(seed)), xxhash64(_))

  private val Mask60 = (1L << 60) - 1

  /** Engine-portable family at xxhash-class cost: ONE md5 per shingle,
    * split into two 60-bit ints (h1 = hex digits 1–15, h2 = 16–30), then
    * the standard Kirsch–Mitzenmacher double-hashing derivation
    * `h_i = (h1 + i·(h2 mod 2^55)) mod 2^60` — pure integer multiply-add
    * per seed instead of a fresh digest. The 2^55 cap keeps
    * `i·h2 + h1 < 2^61` so the arithmetic never overflows a signed
    * 64-bit int in either engine (DuckDB ERRORS on BIGINT overflow rather
    * than wrapping, so overflow-freedom is a correctness requirement, not
    * a nicety). Signatures stay 8-byte longs; band buckets are md5 over
    * the comma-joined decimal slice. Every stage is expressible in
    * DuckDB, so the registered near-dup queries verify the WHOLE pipeline
    * against the oracle, not just the verification tail. */
  val Md5Minhash: MinhashFamily = MinhashFamily(
    sh => {
      val hx = md5(sh.cast("binary"))
      struct(
        conv(substring(hx, 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(hx, 16, 15), 16, 10).cast("long") % (1L << 55)).as("h2"))
    },
    (prepared, seed) =>
      (prepared.getField("h1") + lit(seed.toLong) * prepared.getField("h2"))
        .bitwiseAND(lit(Mask60)),
    bandSlice => md5(concat_ws(",",
      transform(bandSlice, x => x.cast("string"))).cast("binary")))

  /** MinHash signatures, relationally: hash every (id, shingle) row with
    * `numHashes` seeded hash columns, then one codegen'd HashAggregate
    * takes the per-id minimum of each — the signature. The shuffle carries
    * (id, numHashes × hash width); the raw text never moves. */
  def minhashSignatures(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int, numHashes: Int,
      family: MinhashFamily = XxMinhash): DataFrame = {
    val posting = shinglePosting(df, idCol, textCol, shingleK)
    // prepare staged as its own attribute: referenced numHashes times
    // below, so CollapseProject keeps it materialized — the digest runs
    // once per (id, shingle), not once per (id, shingle, seed)
    val prepared = posting.select(col("id"), family.prepare(col("sh")).as("shp"))
    val mins = (0 until numHashes).map(h =>
      min(family.shingleHash(col("shp"), h)).as(s"h$h"))
    prepared.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(h => col(s"h$h")): _*).as("signature"))
  }

  /** LSH band keys: the signature is cut into `bands` rows of
    * `numHashes/bands` entries; each band hashes to one bucket key. Two
    * documents collide in a band iff that band's sub-signature is equal. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int,
      bucketHash: Column => Column = xxhash64(_)): Column =
    array((0 until bands).map(b => struct(lit(b).as("band"),
      bucketHash(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))): _*)

  /** MinHash+LSH candidate pairs (`id_a < id_b`), bucket-join shaped:
    * explode band keys → self-join on (band, bucket) → distinct. Buckets
    * with more than `maxBucket` members are dropped (boilerplate guard).
    * The join shuffles 16-byte keys; there is no cross-bucket product. */
  def minhashCandidates(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, numHashes: Int = 24, bands: Int = 8,
      maxBucket: Int = 200, family: MinhashFamily = XxMinhash): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(df, idCol, textCol, shingleK, numHashes, family),
      numHashes, bands, maxBucket, family.bucketHash)

  /** Drop members of mega-buckets before the self-join, via a windowed
    * per-(band, bucket) count. The window IS partitioned (no single-task
    * trap) and its one hash exchange is reused by both sides of the
    * downstream self-join, so the expensive signature subtree runs once.
    * (An aggregate + broadcast-anti-join variant was measured 1.7× SLOWER
    * at 110k docs: its extra counts branch re-derives the signature
    * pipeline instead of sharing the window's exchange, and the per-group
    * sort it saves is negligible at ≤maxBucket rows per group.) */
  private def capBuckets(keyed: DataFrame, maxBucket: Int): DataFrame =
    keyed.withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("__bucket_n") <= maxBucket)
      .drop("__bucket_n")

  /** Candidate generation over a precomputed (id, signature) frame — use
    * when the signatures (or their shingle posting) are shared with the
    * verification stage, so the corpus is shingled once, not three times. */
  def minhashCandidatesFromSigs(sigs: DataFrame, numHashes: Int = 24,
      bands: Int = 8, maxBucket: Int = 200,
      bucketHash: Column => Column = xxhash64(_)): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val keyed = sigs
      .select(col("id"),
        explode(lshBandKeys(col("signature"), bands, rowsPerBand, bucketHash)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val capped = capBuckets(keyed, maxBucket)
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity of two token-set columns:
    * |A∩B| / (|A|+|B|−|A∩B|) — int sizes, one IEEE division. */
  def jaccard(tokensA: Column, tokensB: Column): Column = {
    val inter = size(array_intersect(tokensA, tokensB))
    inter.cast("double") / (size(tokensA) + size(tokensB) - inter)
  }

  /** MinHash candidates verified with exact Jaccard ≥ `minJaccard` over
    * distinct word shingles (join back to the docs for token sets).
    *
    * The verification sets are aggregated ONLY for ids that survived
    * candidate generation: the shingle posting is left-semi-joined against
    * the exploded candidate-pair ids before the `collect_list`. Candidates
    * are typically ≪1% of a deduped corpus, so the heaviest shuffle of the
    * pipeline — per-doc shingle arrays into the set aggregate — shrinks by
    * the same factor; the full-corpus arrays never move. */
  def minhashNearDups(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, numHashes: Int = 24, bands: Int = 8,
      minJaccard: Double = 0.7, family: MinhashFamily = XxMinhash): DataFrame = {
    // shingle the corpus ONCE; signatures, candidates and exact-Jaccard
    // verification all derive from this cached posting
    val posting = shinglePosting(df, idCol, textCol, shingleK).cache()
    val prepared = posting.select(col("id"), family.prepare(col("sh")).as("shp"))
    val mins = (0 until numHashes).map(h =>
      min(family.shingleHash(col("shp"), h)).as(s"h$h"))
    val sigs = prepared.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(h => col(s"h$h")): _*).as("signature"))
    // cached: referenced again below as the id source for the semi-join
    val candidates = minhashCandidatesFromSigs(sigs, numHashes, bands,
        bucketHash = family.bucketHash).cache()
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
    val sets = posting.join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_list(col("sh")).as("sh"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens: bit i of the hash is the sign of the
    * sum over tokens of ±1 at bit i of xxhash64(token). Pure higher-order
    * column expressions — no UDF, no shuffle. */
  def simhash64(text: Column): Column = {
    val toks = TextAnalysis.wsTokens(TextAnalysis.normalized(text))
    val counters = aggregate(toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        val delta = array((0 until 64).map(i =>
          when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)): _*)
        zip_with(acc, delta, (c, d) => c + d)
      })
    val powers = typedLit((0 until 64).map(i => 1L << i))
    // powers are distinct bits, so plain + is the same as bitwise OR
    aggregate(zip_with(counters, powers, (c, p) => when(c > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc + bit)
  }

  /** Engine-portable 60-bit token hash: the first 15 hex digits of md5,
    * parsed base-16 (Spark `conv`; DuckDB mirrors with shift-sum digit
    * arithmetic — 16^14 overflows double precision, so neither side may
    * go through floats). 60 bits keep the value in a signed long with the
    * sign bit clear in both engines. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Bit width of [[md5Hash60]]-based simhashes. */
  val Md5SimhashBits = 60

  /** SimHash signatures, relationally (the scale path — one token hash per
    * (id, token) row, `nBits` codegen'd conditional sums per id): shuffle
    * carries (id, nBits ints). Zero-token documents drop out (no content).
    * Default `tokenHash` is xxhash64/64-bit; pass [[md5Hash60]] with
    * `nBits = 60` for the DuckDB-mirrorable family the registered
    * `d_simhash_neardups` query verifies against the oracle. */
  def simhashSignatures(df: DataFrame, idCol: Column, textCol: Column,
      tokenHash: Column => Column = xxhash64(_), nBits: Int = 64): DataFrame = {
    val tokens = df.select(idCol.as("id"),
      explode(TextAnalysis.wsTokens(TextAnalysis.normalized(textCol))).as("tok"))
    val hashed = tokens.select(col("id"), tokenHash(col("tok")).as("h"))
    val sums = (0 until nBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until nBits).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash"))
  }

  /** SimHash near-dup candidates: the `totalBits`-bit hash is cut into
    * `bands` equal bit-slices; docs agreeing exactly on any slice are
    * candidates (catches all pairs within Hamming distance < bands).
    * Bucket-join shaped like minhashCandidates. */
  def simhashCandidates(df: DataFrame, idCol: Column, textCol: Column,
      bands: Int = 4, maxBucket: Int = 200): DataFrame =
    simhashCandidatesFromSigs(simhashSignatures(df, idCol, textCol), bands, maxBucket)

  /** Candidate generation over a precomputed (id, simhash) frame. */
  def simhashCandidatesFromSigs(sigs: DataFrame, bands: Int = 4,
      maxBucket: Int = 200, totalBits: Int = 64): DataFrame = {
    require(totalBits % bands == 0, "bands must divide totalBits")
    val bits = totalBits / bands
    val sh = col("simhash")
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandKeys = array((0 until bands).map(b => struct(lit(b).as("band"),
      shiftright(sh, b * bits).bitwiseAND(lit(mask)).as("bucket"))): _*)
    val keyed = sigs.select(col("id"), explode(bandKeys).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val capped = capBuckets(keyed, maxBucket)
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** Hamming distance between two 64-bit hashes (bit_count of XOR). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------ clustering the pair graph

  /** One large-star round: every node points its LARGER neighbors at the
    * minimum of its neighborhood (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). For each node u with neighbor set
    * Γ(u): m = min(Γ(u) ∪ {u}); emit (v, m) for every v ∈ Γ(u) with v > u.
    * One groupBy-min + one broadcast-free equi-join over the edge list. */
  private def largeStar(e: DataFrame): DataFrame = {
    val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
    // window-min over the symmetrized adjacency: ONE exchange on u, where
    // the previous groupBy-then-join form paid three (agg + both join
    // sides). A high-degree hub's rows still land in one task (WindowExec
    // buffers and spills the partition), but no adjacency LIST materializes
    // on a single row, so the hub degrades to spill, not to an OOM — and
    // large-star itself shrinks hub degree geometrically across rounds.
    val m = min(least(col("u"), col("v"))).over(Window.partitionBy("u"))
    both.withColumn("m", m)
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: every node points its SMALLER neighbors (and
    * itself) at the minimum of those. Direct each edge large→small, then
    * for each u: m = min(Γ⁻(u)); emit (v, m) for v ∈ Γ⁻(u) ∪ {u}, v ≠ m. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val withM = dir.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
    withM.select(col("v").as("n"), col("m"))
      .union(withM.select(col("u").as("n"), col("m")))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Order-independent edge-set fingerprint: (count, XOR of xxhash64).
    * XOR is associative/commutative — partition order can't change it —
    * and unlike an ANSI SUM it can't overflow. Used as a cheap per-round
    * convergence screen; equality is then CONFIRMED exactly, so a 64-bit
    * collision costs one extra `except`, never a wrong answer. */
  private def edgeFingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components over a candidate-pair graph by alternating
    * large-star / small-star contraction (Kiveris et al., SoCC 2014) —
    * O(log n) rounds on ANY graph shape, where plain min-label propagation
    * needs graph-diameter rounds (a 50-hop chain: ~6 rounds here vs 50
    * there). Each round is two groupBy-min passes plus equi-joins over the
    * edge list — DataFrame-only, no RDDs, shuffles carry only id pairs.
    * `localCheckpoint` truncates per-round lineage so the plan does not
    * grow with iterations.
    *
    * Fails HARD (IllegalStateException) if `maxIter` rounds do not reach
    * the star fixpoint — never silently returns wrong components (the
    * pre-round-8 label-propagation version truncated silently). maxIter 25
    * covers graphs far beyond 2^25 nodes; hitting it means a bug, not a
    * big input.
    *
    * Output: (id, label) for every id appearing in `pairs`, with label =
    * min id of its component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      smallGraphThreshold: Long = 1L << 16): DataFrame = {
    var edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var fp = edgeFingerprint(edges)
    // Size-adaptive cutover: the distributed loop costs ~6 scheduled jobs
    // PER ROUND (two stars, checkpoint, fingerprint), which dominates on
    // small pair graphs — the common case for near-dup output, where
    // pairs ≪ docs. At or under the threshold (65k edges ≈ a few MB on
    // the driver), collect once and union-find in microseconds; the
    // distributed contraction remains the path for genuinely large
    // graphs. Identical output by construction (min-id labels), asserted
    // by a differential test in PropertySpec.
    if (fp._1 <= smallGraphThreshold) return driverComponents(edges)
    var converged = fp._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // Fixpoint = identical edge sets. The fingerprint (count + hash XOR)
      // screens each round with one cheap aggregate; only when it matches
      // does the exact check run — both sides are distinct(), so equal
      // counts (implied by the fingerprint) + empty one-sided difference
      // ⇔ set equality. Net effect: the shuffle-heavy `except` anti-join
      // runs ONCE per call instead of once per round.
      val nfp = edgeFingerprint(next)
      converged = nfp == fp && next.except(edges).isEmpty
      fp = nfp
      edges = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "refusing to return possibly-wrong components")
    // At the fixpoint every edge is (member → component-min root), so the
    // u side enumerates non-root members and the v side only roots.
    edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")).distinct())
      .distinct()
  }

  /** Driver-side union-find for sub-threshold edge sets: one collect, one
    * parallelize — versus ~6 scheduled jobs per contraction round. Same
    * (id, min-reachable-id) contract as the distributed path; node type
    * stays whatever the edge columns carry (anything orderable). */
  private def driverComponents(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = edges.sparkSession
    val dt = edges.schema.head.dataType
    val rows = edges.collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = { // iterative with path compression: a 65k-hop
      var r = x               // chain must not overflow the call stack
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val out = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .toSet[Any].iterator.map(x => Row(x, find(x))).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
      StructType(Seq(StructField("id", dt), StructField("label", dt))))
  }

  /** Component label for EVERY row of `nodes`: the [[connectedComponents]]
    * label where the node occurs in `pairs`, else itself — a pair-less doc
    * is its own cluster, exactly as in a dedup sweep. No broadcast hint on
    * the label table: it is |V|-sized, so forcing a broadcast would OOM
    * the driver at corpus scale — AQE decides. */
  def assignComponentsOrSelf(nodes: DataFrame, idCol: Column,
      pairs: DataFrame): DataFrame =
    nodes.select(idCol.as("id"))
      .join(connectedComponents(pairs), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))

  /** QUALITY-aware survivor per duplicate cluster: production pipelines
    * keep the BEST member of each near-dup family (longest, highest
    * quality score, freshest crawl), not the smallest id — min-id is a
    * determinism convention, not a data decision. One partitioned window
    * over the (id, label) assignment joined with the caller's score;
    * (score desc, id asc) keeps selection total and deterministic.
    * `assigned` is [[assignComponentsOrSelf]]'s output (or any frame
    * with the id/label columns plus the score). */
  def bestPerCluster(assigned: DataFrame, scoreCol: Column,
      labelCol: String = "label", idCol: String = "id"): DataFrame =
    assigned.withColumn("__rk", row_number().over(
        Window.partitionBy(labelCol).orderBy(scoreCol.desc, col(idCol).asc)))
      .filter(col("__rk") === 1).drop("__rk")

  /** The full corpus-dedup flow (the standard LLM-data pipeline shape):
    * exact dedup first (hash groupBy), then MinHash-LSH near-dups among
    * the exact survivors, connected components over the pair graph, and
    * one canonical survivor (min id) per component. Returns the kept ids. */
  def dedupCorpus(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, numHashes: Int = 24, bands: Int = 8,
      minJaccard: Double = 0.7, family: MinhashFamily = XxMinhash): DataFrame = {
    val exact = exactSurvivors(df, idCol, textCol)
    val survivors = df.join(exact.withColumnRenamed("id", "__keep"),
      idCol === col("__keep"), "left_semi")
    val pairs = minhashNearDups(survivors, idCol, textCol,
      shingleK, numHashes, bands, minJaccard, family)
    val components = connectedComponents(pairs.select("id_a", "id_b"))
    val dropped = components.filter(col("id") =!= col("label")).select("id")
    survivors.select(idCol.as("id"))
      .join(dropped.withColumnRenamed("id", "__drop"),
        col("id") === col("__drop"), "left_anti")
      .select("id")
  }

  // --------------------------------------------------- incremental dedup

  /** Estimated Jaccard from two equal-length MinHash signatures: the
    * fraction of agreeing components — the standard unbiased estimator,
    * exactly expressible in SQL for oracle parity. */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / size(sigA)

  /** The persisted dedup state for [[incrementalDedup]]: one row per
    * retained document — `(id, h64, h256, signature)`. 8 + 32 + numHashes×8
    * bytes per doc, NEVER the text: a 10B-doc corpus is a ~2 TB state
    * table, not a second copy of the corpus. */
  def corpusState(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, numHashes: Int = 24,
      family: MinhashFamily = XxMinhash): DataFrame =
    df.select(idCol.as("id"), xxhash64(textCol).as("h64"),
        sha2(textCol.cast("binary"), 256).as("h256"))
      .join(minhashSignatures(df, idCol, textCol, shingleK, numHashes, family),
        "id")

  /** Anti join with a Bloom short-circuit for the common no-hit path:
    * left rows whose `hashKey` misses a Bloom filter built over `right`'s
    * keys are PROVABLY absent from the right side (no false negatives)
    * and bypass the join entirely; only the Bloom-hit sliver — true dups
    * plus ~fpp false positives — pays the exact anti join. Semantically
    * identical to the plain left-anti by the no-false-negative guarantee
    * (IncrementalDedupSpec proves keep-decision equality on a dup-laden
    * fixture).
    *
    * The 100 TB shape this exists for: the dedup state is mostly COLD —
    * years of history a fresh crawl batch almost never hits. The plain
    * anti join shuffles or probes that whole state every batch; with the
    * front-filter, the cold state is scanned ONCE to build the bitmap
    * (an artifact reusable across every batch until the state version
    * changes — rebuild on append/compaction, not per batch), and the
    * typical batch row touches no state at all. The bitmap collect is
    * driver-safe at ANY state size: positions are deduplicated in Spark,
    * so at most `numBits` ints come back — an oversubscribed bitmap
    * degrades to pass-everything (correct, just unhelpful), never to a
    * driver OOM. */
  def bloomGuardedAntiJoin(left: DataFrame, right: DataFrame,
      hashKey: String, exactKeys: Seq[String],
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val bits = Bloom.buildBits(right, col(hashKey), numBits, numHashes)
    val hit = Bloom.mightContain(col(hashKey), bits, numBits, numHashes)
    left.filter(!hit).unionByName(
      left.filter(hit)
        .join(right.select(exactKeys.map(col): _*), exactKeys, "left_anti"))
  }

  /** Maintenance pass over a [[corpusState]]: drop every row whose MinHash
    * signature is byte-identical to a lower-id row's. The dropped rows are
    * REPRESENTATIONALLY redundant — an identical signature occupies exactly
    * the same LSH band buckets with exactly the same estimator value
    * against every probe, and a future batch doc exactly equal to a
    * dropped row's text still dies: it misses the (h64, h256) anti join
    * but then estimates Jaccard 1 (≥ any threshold) against the surviving
    * twin at the signature stage. So [[incrementalDedup]] keep-decisions
    * are unchanged, while a state bootstrapped from a RAW (never-deduped)
    * corpus collapses every exact-duplicate family to one row — the
    * monotone-growth pressure release for a long snapshot loop, in the
    * spirit of [[graft.sinks.Compaction]] for parquet leaves.
    *
    * One caveat at the margin: with fewer state rows, a band bucket that
    * exceeded `maxBucket` (and was therefore ignored wholesale) can come
    * back under the cap, SURFACING candidates the cap had suppressed —
    * decisions only ever get stricter (more dropping), never looser.
    *
    * One window over one exchange on the signature; nothing else moves. */
  def compactState(state: DataFrame): DataFrame =
    state.withColumn("__keep",
        min(col("id")).over(Window.partitionBy("signature")))
      .filter(col("id") === col("__keep")).drop("__keep")

  /** `kept`/`state` share a cached signature DataFrame; call [[release]]
    * once both are materialized (written or collected) to return that
    * executor storage — a long-lived snapshot loop that never releases
    * accretes one cached batch per step. The DataFrames stay valid after
    * release (they recompute without the cache if re-used). */
  final case class IncrementalResult(kept: DataFrame, state: DataFrame,
      private val cachedSig: Option[DataFrame] = None) {
    def release(): Unit = cachedSig.foreach { df => df.unpersist(); () }
  }

  /** One snapshot step of INCREMENTAL corpus dedup — the production shape:
    * a new crawl batch is deduplicated against everything already retained
    * WITHOUT rescanning the old corpus. 100 TB of history participates as
    * its [[corpusState]] (hashes + signatures), so the per-snapshot cost is
    * ∝ batch + state-join, not ∝ corpus.
    *
    * Stage order (each documented choice is observable in the result):
    *  1. exact dedup WITHIN the batch — min id per content survives;
    *  2. exact vs state — anti join on (h64, h256): 40-byte keys shuffle,
    *     the batch text never does;
    *  3. near-dup WITHIN the batch — LSH candidates from one signature
    *     pass, EXACT-Jaccard verified (texts are in hand), transitively
    *     closed ([[connectedComponents]]), min id per cluster survives;
    *  4. surviving representatives vs state — band-bucket join against the
    *     state's band keys, verified by [[estimatedJaccard]] on signatures
    *     (the state has no text to verify exactly — the deliberate
    *     state-size trade; at numHashes=24 the estimator's σ ≈ 0.09, so
    *     thresholds are soft boundaries, as in every production MinHash
    *     state design). A dropped representative drops its whole in-batch
    *     cluster (members were already removed in stage 3).
    *  5. the kept rows' `(id, h64, h256, signature)` are appended to the
    *     state — ready for the next snapshot; idempotence follows (the
    *     same batch replayed against the new state keeps nothing).
    *
    * Signatures are computed ONCE (stage 3) and reused for the cross
    * check and the state append. `kept` is the id column only — callers
    * semi-join their batch (consistent with [[dedupCorpus]]). */
  def incrementalDedup(batch: DataFrame, idCol: Column, textCol: Column,
      state: DataFrame, shingleK: Int = 3, numHashes: Int = 24,
      bands: Int = 8, minJaccard: Double = 0.7, maxBucket: Int = 200,
      family: MinhashFamily = XxMinhash,
      stateBloomBits: Option[Int] = None): IncrementalResult = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val hashed = batch.select(idCol.as("id"), textCol.as("text"),
      xxhash64(textCol).as("h64"), sha2(textCol.cast("binary"), 256).as("h256"))
    // 1. exact within the batch (window-min: one exchange, reused by the
    // anti join below under AQE's exchange reuse when keys align)
    val exactKept = hashed
      .withColumn("__keep", min(col("id")).over(Window.partitionBy("h64", "h256")))
      .filter(col("id") === col("__keep")).drop("__keep")
    // 2. exact vs state — optionally behind a Bloom front-filter
    // ([[bloomGuardedAntiJoin]]): when `stateBloomBits` is set, the
    // common no-hit batch row never joins the (cold, large) state at all
    val stateKeys = state.select("h64", "h256")
    val afterExact = stateBloomBits match {
      case Some(bits) => bloomGuardedAntiJoin(exactKept, stateKeys,
        "h64", Seq("h64", "h256"), bits)
      case None => exactKept.join(stateKeys, Seq("h64", "h256"), "left_anti")
    }
    // 3. near within the batch
    val sigs = minhashSignatures(afterExact, col("id"), col("text"),
      shingleK, numHashes, family)
    val withSig = afterExact.join(sigs, "id").cache()
    val cand = minhashCandidatesFromSigs(withSig.select("id", "signature"),
      numHashes, bands, maxBucket, family.bucketHash)
    val posting = shinglePosting(withSig, col("id"), col("text"), shingleK)
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id"))
    val sets = posting.join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_list(col("sh")).as("sh"))
    val pairs = cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= minJaccard)
      .select("id_a", "id_b")
    val inBatchDrop = connectedComponents(pairs)
      .filter(col("id") =!= col("label")).select("id")
    val reps = withSig.join(inBatchDrop, Seq("id"), "left_anti")
    // 4. representatives vs state (estimated Jaccard on signatures)
    def bandKeys(df: DataFrame): DataFrame = capBuckets(df
      .select(col("id"), explode(
        lshBandKeys(col("signature"), bands, rowsPerBand, family.bucketHash)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket")),
      maxBucket)
    val crossDrop = bandKeys(reps.select("id", "signature")).as("n")
      .join(bandKeys(state.select("id", "signature")).as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .select(col("n.id").as("id"), col("o.id").as("sid")).distinct()
      .join(reps.select(col("id"), col("signature").as("sig_n")), "id")
      .join(state.select(col("id").as("sid"), col("signature").as("sig_o")), "sid")
      .filter(estimatedJaccard(col("sig_n"), col("sig_o")) >= minJaccard)
      .select("id").distinct()
    val kept = reps.join(crossDrop, Seq("id"), "left_anti")
    // 5. state grows by the kept rows
    val newState = state.unionByName(
      kept.select("id", "h64", "h256", "signature"))
    IncrementalResult(kept.select("id"), newState, Some(withSig))
  }

  // ------------------------------------------------- n-gram Jaccard (rare)

  /** Jaccard candidate pairs via RARE shingles: only shingles whose
    * document frequency is ≤ `maxDf` participate in the join, bounding the
    * per-shingle fanout at `maxDf²` — the inverted-index analog of LSH. */
  def rareShingleCandidates(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, maxDf: Int = 20): DataFrame = {
    val posting = shinglePosting(df, idCol, textCol, shingleK)
    val rare = posting.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= maxDf).drop("df")
    val a = rare.as("a"); val b = rare.as("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** Directed CONTAINMENT near-dups: C(A→B) = |Sh(A)∩Sh(B)| / |Sh(A)| —
    * Broder's asymmetric companion to resemblance ("On the resemblance
    * and containment of documents", SEQUENCES 1997). It catches a
    * document contained in another — a quoted article, a rehost wrapped
    * in boilerplate — where symmetric Jaccard is structurally blind:
    * J(A,B) ≤ |Sh(A)|/|Sh(B)|, so a 10× larger container caps Jaccard at
    * 0.1 no matter how perfectly A is embedded.
    *
    * Candidates come from [[rareShingleCandidates]]: a contained doc
    * shares ALL its shingles with its container — in particular its
    * rarest — so every true pair surfaces as long as the contained doc
    * has ≥1 shingle of document frequency ≤ maxDf (guaranteed when the
    * corpus holds fewer than maxDf copies of it). The exact tail joins
    * posting lists for CANDIDATE docs only (semi-join pruned), counts
    * the intersection per pair, and divides by each side's shingle
    * count — integer counts and one IEEE division, so the registered
    * query is oracle-exact. No all-pairs form anywhere; shuffled rows
    * are (id, shingle) postings of candidate docs, never full text.
    *
    * Output: (id_a, id_b, inter, n_a, n_b, c_a_in_b, c_b_in_a) for
    * candidate pairs with max(c_a_in_b, c_b_in_a) ≥ minContainment. */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 3, minContainment: Double = 0.9,
      maxDf: Int = 20): DataFrame = {
    // ONE posting definition feeds both candidate generation and the
    // exact tail. The two bounded intermediates — candidate pairs, and
    // the candidate docs' postings — are localCheckpointed (eager):
    // they sit under FOUR downstream plan branches each, and without
    // materialization every branch re-runs the corpus-wide
    // tokenize → shingle → df join pipeline (the scale probe measured the
    // naive form at 279 s vs ~30 s on 110k docs; both are sized by the
    // near-dup population, not the corpus, so the storage is small).
    val posting = shinglePosting(df, idCol, textCol, shingleK)
    // the three corpus-wide phases (df count, rare filter, bucket
    // self-join) run on 64-bit shingle HASHES — shuffles carry
    // (long, long) rows instead of ~40-byte shingle strings. A hash
    // collision can only ADD a false candidate (killed by the exact
    // string tail below) or, at ~2^-40 per corpus, nudge a merged df
    // over maxDf; the df_t count itself is groupBy + equi-join (not a
    // per-shingle sort window) so AQE can pick broadcast/skew strategies
    val hashed = posting.select(col("id"), xxhash64(col("sh")).as("h"))
    val dft = hashed.groupBy("h").agg(count(lit(1)).as("__df"))
    val rare = hashed.join(dft.filter(col("__df") <= maxDf), Seq("h"))
      .select("id", "h")
    val cands = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      .localCheckpoint()
    val ids = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id"))).distinct()
    val p = posting.join(ids, Seq("id"), "left_semi").localCheckpoint()
    val sizes = p.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(p.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(p.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("c_a_in_b", col("inter").cast("double") / col("n_a"))
      .withColumn("c_b_in_a", col("inter").cast("double") / col("n_b"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= minContainment)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "c_a_in_b", "c_b_in_a")
  }

  /** EXACT token-set Jaccard similarity self-join via prefix filtering
    * (the AllPairs / PPJoin family: Bayardo, Ma & Srikant, "Scaling up
    * all pairs similarity search", WWW 2007) — the exact complement of
    * [[minhashNearDups]]: MinHash trades a few percent recall for a
    * fixed-size signature; this path is guaranteed-complete at its
    * threshold, at the cost of shuffling (rare-token) postings instead
    * of signatures. Both end in the same verified-pairs shape.
    *
    * The filter theorem: order every document's DISTINCT tokens by the
    * global (document-frequency ASC, token ASC) total order, and take
    * each side's first `n − ⌈t·n⌉ + 1` tokens as its prefix. Two sets
    * with `J ≥ t` overlap in `≥ ⌈t/(1+t)·(n_a+n_b)⌉` tokens, which is
    * strictly more than the tokens either side can have OUTSIDE the
    * other's prefix — so every qualifying pair shares ≥1 PREFIX token
    * and surfaces in the prefix-posting equi-join. No false negatives,
    * by construction; false positives die in the exact verify.
    *
    * Scale shape: one distinct + one df count + one collect per doc id
    * (the sorted (df, token) array), then the candidate join runs ONLY
    * on prefix postings — the globally RAREST slice of each document,
    * so posting lists are short precisely where the join fans out. The
    * per-doc sort is `array_sort` INSIDE the row (no global rank
    * window — the [[Ranks]] partition-less-window ban holds). Length
    * filter `t·max(n_a,n_b) ≤ min(n_a,n_b)` prunes inside the join
    * condition. The exact tail is `array_intersect` on the (bounded)
    * candidate pairs — narrow, codegen'd, no further shuffle.
    *
    * A prefix token whose posting list exceeds `maxPosting` hard-errors
    * (fail-fast naming the lever, the [[graft.operators.Similarity]]
    * requireBounded convention) rather than silently dropping
    * candidates — dropping would break the completeness guarantee that
    * distinguishes this operator. Empty token sets never pair (Jaccard
    * undefined); `minJaccard` ∈ (0, 1].
    *
    * Output: (id_a, id_b, inter, uni, n_a, n_b, jaccard) for all pairs
    * with `jaccard ≥ minJaccard`; `jaccard` is one IEEE division of
    * exact counts, so the registered query is oracle-exact against an
    * ALL-PAIRS DuckDB recompute — a match certifies zero candidate
    * false negatives end to end (the [[containmentPairs]] style). */
  def jaccardJoinPrefix(df: DataFrame, idCol: Column, textCol: Column,
      minJaccard: Double, maxPosting: Int = 10000): DataFrame = {
    val (docs, cands) = jaccardPrefixStages(df, idCol, textCol,
      minJaccard, maxPosting)
    val sets = docs.select(col("id"),
      transform(col("sorted"), s => s.getField("tk")).as("toks"),
      col("n"))
    cands
      .join(sets.select(col("id").as("id_a"), col("toks").as("toks_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("toks").as("toks_b"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .withColumn("uni", (col("n_a") + col("n_b")).cast("bigint") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"), col("jaccard"))
  }

  /** The candidate-pair stage of [[jaccardJoinPrefix]], exposed so the
    * scale probe can measure candidate volume directly (the quantity
    * whose growth rate decides whether the operator survives a corpus
    * scale-up). Returns (id_a, id_b) with zero false negatives at
    * `minJaccard` — exactly the pairs the exact verify then scores. */
  def jaccardPrefixCandidates(df: DataFrame, idCol: Column,
      textCol: Column, minJaccard: Double,
      maxPosting: Int = 10000): DataFrame =
    jaccardPrefixStages(df, idCol, textCol, minJaccard, maxPosting)._2

  /** Shared body of [[jaccardJoinPrefix]] / [[jaccardPrefixCandidates]]:
    * (per-doc sorted (df, tk) arrays, candidate pairs). */
  private def jaccardPrefixStages(df: DataFrame, idCol: Column,
      textCol: Column, minJaccard: Double,
      maxPosting: Int): (DataFrame, DataFrame) = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val tok = df.select(idCol.as("id"),
        explode(TextAnalysis.wsTokens(textCol)).as("tk")).distinct()
    val dft = tok.groupBy("tk").agg(count(lit(1)).as("df"))
    // per-doc sorted (df, tk) array: the global total order realized
    // locally — structs sort lexicographically, (df ASC, tk ASC)
    val docs = tok.join(dft, Seq("tk"))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tk"))))
        .as("sorted"))
      .withColumn("n", size(col("sorted")))
      .withColumn("plen",
        (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int"))
    val rawPrefix = docs.select(col("id"), col("n"),
      explode(slice(col("sorted"), lit(1), col("plen"))).as("p"))
      .select(col("id"), col("n"), col("p.tk").as("tk"))
    // completeness guard: an over-long prefix posting is a data smell
    // (a supposedly-rare token everywhere) — fail fast AT RUN TIME via a
    // per-row raise_error in the plan (the [[Merge.applyChanges]] vetting
    // pattern: no eager action at construction, no silent capping — a
    // cap would break the no-false-negative guarantee)
    val pcount = rawPrefix.groupBy("tk").agg(count(lit(1)).as("__pc"))
    val prefix = rawPrefix.join(pcount, Seq("tk"))
      // assert_true survives column pruning because it lives in a FILTER
      // the rows must pass, not a projected-away column
      .filter(assert_true(col("__pc") <= maxPosting, concat(
        lit("jaccardJoinPrefix: prefix posting for token '"), col("tk"),
        lit(s"' exceeds maxPosting=$maxPosting — raise maxPosting or " +
          "pre-filter stopwords"))).isNull)
      .select("id", "n", "tk")
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tk") === col("b.tk") && col("a.id") < col("b.id") &&
          // length filter: J ≥ t forces t·max ≤ min
          col("a.n") >= ceil(lit(minJaccard) * col("b.n")) &&
          col("b.n") >= ceil(lit(minJaccard) * col("a.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    (docs, cands)
  }

  // ------------------------------------------------- duplicated substrings

  /** The whitespace/lowercase tokenization every span operator reads —
    * ONE definition so [[duplicateSpans]], [[removeDupSpans]], and
    * [[maxDupSpans]] (and their oracles) can never desynchronize. */
  private def spanTokens(df: DataFrame, idCol: Column,
      textCol: Column): DataFrame = {
    val tk = filter(split(lower(textCol), "\\s+"), x => x =!= lit(""))
    df.select(idCol.as("id"), tk.as("tk"))
  }

  /** (id, pos, h) 64-bit digests of all w-shingles over [[spanTokens]] —
    * the shared front half of the three span operators. xxhash64 (r16):
    * the digest never surfaces in any output — every span operator only
    * tests digest EQUALITY — so the engine-portable md5 hex the oracle
    * replays is not needed Spark-side, and an 8-byte long both hashes
    * ~5× cheaper per shingle and shuffles 6× narrower than 32-char hex
    * (guide §2.3 narrower types). Results are identical short of a
    * 64-bit collision between distinct shingle strings (~n²/2⁶⁵; at 10⁸
    * distinct shingles odds are ~3·10⁻⁴, and the oracle gate would
    * surface one at test SFs). */
  private def shingleHits(toks: DataFrame, w: Int): DataFrame = {
    val shingleArr = when(size(col("tk")) < w,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("tk")) - w),
        i => array_join(slice(col("tk"), i + lit(1), lit(w)), " ")))
    toks.select(col("id"), posexplode(shingleArr).as(Seq("pos", "s")))
      .select(col("id"), col("pos"), xxhash64(col("s")).as("h"))
  }

  /** Maximal duplicated token-span detection — the SUBSTRING-level
    * complement of document near-dup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022: repeated spans past a
    * length threshold are memorization fuel even when the containing
    * documents differ). That paper builds one corpus-wide suffix array —
    * which needs the corpus in a single address space; this is the
    * distributed equivalent over fixed-width shingles: a token span of
    * length ≥ minShingles + w − 1 repeated anywhere in the corpus is
    * exactly a run of ≥ minShingles consecutive w-shingles whose corpus
    * frequency is ≥ 2, so detection reduces to (1) a shingle frequency
    * count and (2) per-document gaps-and-islands over duplicated
    * positions. (Granularity is w tokens: spans are maximal to within
    * one shingle, the standard trade for distributing the problem.)
    * This is the span-LOCALIZATION step that
    * [[TextAnalysis.duplicateWindows]] (hash + counts only) points to
    * with "join back on the hash to locate spans".
    *
    * Scale: the corpus-wide shuffle keys are 8-byte xxhash64 digests
    * (see [[shingleHits]] — equality-only use, so no engine-portable
    * hex needed); the frequency filter is one window count partitioned
    * by digest and the islands window partitions BY DOCUMENT, so no
    * global sort exists. Shuffled rows are (id, pos, hash) — never
    * text. Hot digest: the frequency window puts a digest's whole
    * posting (every (id, pos) occurrence) into one window partition,
    * so a shingle repeated across most of the corpus (boilerplate, a
    * stop-word run) lands in one task. Unlike [[maxDupSpans]], this
    * operator has no `maxPosting` fail-fast.
    *
    * Output: one maximal duplicated span per row — (id, span_start,
    * span_end, n_shingles) in 0-based token coordinates; span length in
    * tokens = span_end − span_start + 1 = n_shingles + w − 1. */
  def duplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
      w: Int = 5, minShingles: Int = 3): DataFrame = {
    require(w >= 1 && minShingles >= 1, "w and minShingles must be >= 1")
    val sh = shingleHits(spanTokens(df, idCol, textCol), w)
    // corpus-frequency filter as ONE window count over the digest
    // (r16, guide §2.4): the former groupBy(h)+left-semi-join form
    // planned the whole scan→tokenize→digest→explode subtree TWICE
    // (once under the aggregate, once as the join's probe side — Spark
    // does not share subtrees) and broadcast every duplicated digest.
    // The window keys the same exchange volume ((id, pos, h) longs),
    // runs the expensive subtree once, and drops the broadcast — which
    // at 100 TB would hold every duplicated digest on the driver.
    val hits = sh
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__c") >= 2)
      .select("id", "pos")
    val rn = row_number().over(Window.partitionBy("id").orderBy("pos"))
    hits.withColumn("__grp", col("pos") - rn)
      .groupBy("id", "__grp")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1)).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= minShingles)
      .select("id", "span_start", "span_end", "n_shingles")
  }

  /** Duplicated-span REMOVAL — the rewrite step Lee et al. apply after
    * detection: every duplicated span keeps exactly ONE canonical
    * occurrence in the corpus; all others are excised from their
    * documents. Canonical = the lexicographically smallest (id, pos)
    * occurrence PER SHINGLE DIGEST (the library's min-id survivor
    * convention at span granularity — deterministic, layout- and
    * engine-independent). Non-canonical occurrences that form runs of
    * ≥ `minShingles` consecutive shingles (the same threshold as
    * [[duplicateSpans]]) have their covered tokens cut; shorter
    * incidental overlaps are left alone, matching the detection
    * contract. Tokens inside ANY canonical occurrence's window are
    * protected from excision — without this, a removable run adjacent
    * to the canonical copy of a different digest would clip that copy
    * and the digest's content could vanish corpus-wide; the cost is
    * that a removable span overlapping a canonical window is excised
    * only outside it (a fragment survives).
    *
    * Scale shape: canonical election is a count and a
    * `min(struct(id, pos))` window over one digest partitioning
    * (`Window.partitionBy("h")`), islands partition by document, and
    * the REWRITE never shuffles text — the tiny (id, spans) table joins
    * back to the corpus and a codegen'd index-aware `filter` drops
    * covered tokens in the scan. Only (id, pos, digest) rows ever cross
    * an exchange. Hot digest: as in [[duplicateSpans]], a digest's
    * whole posting lands in one window partition, and there is no
    * `maxPosting` fail-fast like [[maxDupSpans]]'s.
    *
    * Output: (id, n_tokens, n_removed, clean_text) for EVERY input
    * document (unaffected docs pass through with n_removed = 0);
    * clean_text is the surviving tokens of the lowercased/whitespace
    * tokenization joined by single spaces — the same normalization the
    * detection pass reads, so downstream passes see consistent text. */
  def removeDupSpans(df: DataFrame, idCol: Column, textCol: Column,
      w: Int = 5, minShingles: Int = 3): DataFrame = {
    require(w >= 1 && minShingles >= 1, "w and minShingles must be >= 1")
    val toks = spanTokens(df, idCol, textCol)
    val sh = shingleHits(toks, w)
    // canonical occurrence per duplicated digest via TWO window
    // functions over ONE digest partitioning (r16, guide §2.4): the
    // former groupBy(h)+join form planned the shingle subtree three
    // times (under the aggregate — used twice — plus the join probe);
    // here both downstream branches read the same digest exchange
    // (ReuseExchange), the subtree runs once, and a row knows inline
    // whether it IS its digest's canonical (min (id, pos)) occurrence.
    val fw = Window.partitionBy("h")
    val marked = sh
      .withColumn("__c", count(lit(1)).over(fw))
      .withColumn("__can", min(struct(col("id"), col("pos"))).over(fw))
      .filter(col("__c") >= 2)
      .select(col("id"), col("pos"),
        (col("__can.id") === col("id") &&
          col("__can.pos") === col("pos")).as("__is_can"))
    val removable = marked.filter(!col("__is_can")).select("id", "pos")
    val rn = row_number().over(Window.partitionBy("id").orderBy("pos"))
    val spans = removable.withColumn("__grp", col("pos") - rn)
      .groupBy("id", "__grp")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(w - 1)).as("e"),
        count(lit(1)).as("n"))
      .filter(col("n") >= minShingles)
      .groupBy("id")
      .agg(collect_list(struct(col("s"), col("e"))).as("rm"))
    // tokens inside a CANONICAL occurrence's window are PROTECTED: a
    // removable run adjacent to a canonical shingle of a DIFFERENT
    // digest would otherwise clip the one copy the contract promises to
    // keep (its other occurrences are excised elsewhere as
    // non-canonical, so the content would survive nowhere). Protection
    // wins over removal token-by-token; a removable span overlapping a
    // canonical window is excised only outside it.
    val protSpans = marked.filter(col("__is_can")).select("id", "pos")
      .withColumn("__grp", col("pos") - rn)
      .groupBy("id", "__grp")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(w - 1)).as("e"))
      .groupBy("id")
      .agg(collect_list(struct(col("s"), col("e"))).as("keep"))
    val emptySpans = array().cast("array<struct<s:int,e:int>>")
    toks.join(spans, Seq("id"), "left")
      .join(protSpans, Seq("id"), "left")
      .withColumn("rm", coalesce(col("rm"), emptySpans))
      .withColumn("keep", coalesce(col("keep"), emptySpans))
      .withColumn("clean", filter(col("tk"), (x, i) =>
        !(exists(col("rm"), sp =>
            i >= sp.getField("s") && i <= sp.getField("e")) &&
          !exists(col("keep"), sp =>
            i >= sp.getField("s") && i <= sp.getField("e")))))
      .select(col("id"), size(col("tk")).cast("bigint").as("n_tokens"),
        (size(col("tk")) - size(col("clean"))).cast("bigint").as("n_removed"),
        array_join(col("clean"), " ").as("clean_text"))
  }

  /** Maximal duplicated spans PER DOCUMENT PAIR — the alignment face of
    * [[duplicateSpans]]: that operator says "this span of this document
    * is duplicated somewhere"; this one says between WHICH two documents
    * and at WHICH positions in each, per maximal run. Exactly the Lee et
    * al. exact-substring target at pair granularity: a common token run
    * of length L ≥ w appears as L − w + 1 consecutive matching
    * w-shingles on ONE DIAGONAL (pos_a − pos_b constant), so maximal
    * common substrings reduce to gaps-and-islands over matching shingle
    * positions per (pair, diagonal) — no suffix array, no corpus in one
    * address space. The longest common substring of a pair is its max
    * `span_len` row (LlmOperatorsSpec proves this against a quadratic DP
    * LCS on fuzzed docs).
    *
    * Scale: the only corpus-wide shuffle is the equi-join of (id, pos,
    * digest) rows on the digest — never text. The join IS quadratic in a
    * digest's posting size, so a `maxPosting` fail-fast guards the hot
    * tail exactly like [[jaccardJoinPrefix]] (a silent cap would break
    * the no-false-negative contract; boilerplate shingles that trip it
    * should be stripped upstream, e.g. [[TextAnalysis]] boilerplate
    * removal). The islands window partitions by (pair, diagonal) — tiny
    * partitions, no global sort.
    *
    * Output: (id_a, id_b, start_a, start_b, n_shingles, span_len) — one
    * maximal common run per row, 0-based token coordinates, id_a < id_b,
    * span_len = n_shingles + w − 1 tokens. */
  def maxDupSpans(df: DataFrame, idCol: Column, textCol: Column,
      w: Int = 5, minShingles: Int = 3, maxPosting: Int = 1000): DataFrame = {
    require(w >= 1 && minShingles >= 1, "w and minShingles must be >= 1")
    val sh = shingleHits(spanTokens(df, idCol, textCol), w)
    // posting-size fail-fast BEFORE the self-join (quadratic in
    // posting), as ONE window count over the digest (r16, guide §2.4):
    // the former groupBy(h)+join form planned the shingle subtree twice
    // (aggregate + probe); both self-join sides below now read the same
    // digest exchange (ReuseExchange), which also already satisfies the
    // join's hashpartitioning(h) requirement.
    val hot = sh
      .withColumn("__pc", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__pc") >= 2)
      .filter(assert_true(col("__pc") <= maxPosting,
        lit(s"maxDupSpans: a shingle digest occurs more than " +
          s"maxPosting=$maxPosting times — strip boilerplate upstream or " +
          "raise maxPosting")).isNull)
      .select("id", "pos", "h")
    val pairs = hot.as("a").join(hot.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    val win = Window.partitionBy(col("id_a"), col("id_b"),
      col("pos_a") - col("pos_b")).orderBy("pos_a")
    pairs.withColumn("__grp", col("pos_a") - row_number().over(win))
      .groupBy(col("id_a"), col("id_b"), col("pos_a") - col("pos_b"),
        col("__grp"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= minShingles)
      .withColumn("span_len", col("n_shingles") + lit(w - 1))
      .select("id_a", "id_b", "start_a", "start_b", "n_shingles", "span_len")
  }

  // ------------------------------------------------- edit-distance join

  /** SymSpell-style edit-distance-1 join over SHORT string fields
    * (titles, names, URLs — near-dup record linkage where shingle
    * methods have nothing to shingle). Deletion-neighborhood candidate
    * generation: two strings at Levenshtein distance ≤ 1 always share a
    * member of their deletion-1 neighborhoods {s} ∪ {s minus one char}
    * (equal → s itself; substitution → delete the differing position
    * from both; insertion → delete the inserted character), so an
    * equi-join on the 8-byte xxhash64 of each variant finds every
    * qualifying pair with NO all-pairs product; exact `levenshtein`
    * verification then removes hash-collision and distance-2 false
    * positives (two deletions of different strings can coincide).
    *
    * Exact duplicates are collapsed FIRST (distinct strings, min-id
    * representative): an m-way exact-dup group would otherwise put m
    * copies into every one of its L+1 buckets — m² candidates for pairs
    * [[exactClusters]] already owns. Distinct inputs also mean every
    * surviving pair has dist exactly 1.
    *
    * Scale shape: the candidate shuffle carries (variant-hash, id) — 16
    * bytes a row, ≤ L+1 rows per distinct string; full strings
    * re-attach via two narrow id equi-joins after the pair set is
    * distinct. `maxLen` fail-fasts on long strings (the neighborhood is
    * L+1 keys — shingle/MinHash methods own whole documents), and
    * oversized variant buckets fail fast like [[maxDupSpans]]' postings
    * (> maxBucket distinct strings within distance 2 of one hub string
    * means the OUTPUT itself is going quadratic — clean the hub field
    * upstream rather than silently losing recall).
    *
    * Output: (id_a, id_b, s_a, s_b, dist), id_a < id_b over
    * representative ids, dist = 1. */
  def editDistanceJoin(df: DataFrame, idCol: Column, strCol: Column,
      maxLen: Int = 256, maxBucket: Int = 1000): DataFrame = {
    require(maxLen >= 1 && maxBucket >= 2, "maxLen >= 1, maxBucket >= 2")
    val reps = df
      .select(idCol.as("id"),
        when(length(strCol) > maxLen, raise_error(concat(
            lit(s"editDistanceJoin: string longer than maxLen=$maxLen " +
              "(this operator is for short fields; use shingle/MinHash " +
              "dedup for documents), id="), idCol.cast("string"))))
          .otherwise(strCol).as("s"))
      .groupBy("s").agg(min(col("id")).as("id"))
    // i = 0 keeps the string itself; i = 1..L deletes character i.
    // distinct() collapses repeated variants (deleting any char of an
    // identical-character run yields the same string).
    val vh = reps.select(col("id"),
        explode(transform(sequence(lit(0), length(col("s"))),
          i => xxhash64(concat(
            col("s").substr(lit(1), greatest(i - lit(1), lit(0))),
            col("s").substr(i + lit(1), length(col("s")) - i))))).as("vh"))
      .distinct()
    val guarded = vh
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy("vh")))
      .filter(assert_true(col("__bn") <= maxBucket,
        lit(s"editDistanceJoin: a deletion variant is shared by more " +
          s"than maxBucket=$maxBucket distinct strings — the output is " +
          "quadratic around a hub string; clean the field upstream or " +
          "raise maxBucket")).isNull)
      .drop("__bn")
    val pairs = guarded.as("a").join(guarded.as("b"),
        col("a.vh") === col("b.vh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(reps.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(reps.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select("id_a", "id_b", "s_a", "s_b", "dist")
  }

  /** Jaro–Winkler similarity join over SHORT string fields — the
    * classical record-linkage matcher (Winkler 1990, built for Census
    * name fields) for typos that are SUBSTITUTION/TRANSPOSITION-shaped
    * rather than bounded-edit-count ([[editDistanceJoin]]'s regime) or
    * token-overlap-shaped ([[jaccardJoinPrefix]]'s).
    *
    * Scoring is the native `graft_jaro`/`graft_jaro_winkler` Catalyst
    * expressions ([[graft.plans.JaroKernel]]) — codegen'd byte-level
    * kernels pinned bit-for-bit to DuckDB's, so the oracle certifies
    * the scorer's float output exactly.
    *
    * Candidates come from equality on `blockKey(s)` (default: first
    * byte + octet-length bucket of width 4). HONEST LIMIT, stated
    * rather than hidden: unlike Jaccard (prefix filter) or edit
    * distance ≤ 1 (deletion neighborhoods), Jaro–Winkler admits NO
    * cheap complete candidate filter at a threshold — a transposed
    * FIRST byte ("dwayne"/"wdayne") scores 0.95 but lands in different
    * default blocks. Blocking keys are the standard practice this trade
    * has always run on; recall is governed by the key choice (callers
    * with a known error model pass their own), and the registered
    * oracle replays the SAME blocking so what the hash certifies is the
    * scorer + join semantics, not blocking completeness.
    *
    * Exact duplicates collapse first (min-id representative), as in
    * [[editDistanceJoin]]. Oversized blocks fail fast: candidates grow
    * as Σ|block|², so a degenerate key (everything in one block) must
    * raise, not silently run the corpus cartesian.
    *
    * Output: (id_a, id_b, s_a, s_b, jaro, jw), id_a < id_b over
    * representative ids, jw ≥ threshold. */
  def jaroWinklerJoin(df: DataFrame, idCol: Column, strCol: Column,
      threshold: Double, blockKey: Column => Column = s =>
        concat(substring(s, 1, 1),
          floor(octet_length(s) / lit(4)).cast("string")),
      maxLen: Int = 256, maxBlock: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    require(maxLen >= 1 && maxBlock >= 2, "maxLen >= 1, maxBlock >= 2")
    val reps = df
      .select(idCol.as("id"),
        when(length(strCol) > maxLen, raise_error(concat(
            lit(s"jaroWinklerJoin: string longer than maxLen=$maxLen " +
              "(this operator is for short fields; use shingle/MinHash " +
              "dedup for documents), id="), idCol.cast("string"))))
          .otherwise(strCol).as("s"))
      .groupBy("s").agg(min(col("id")).as("id"))
      .withColumn("bk", blockKey(col("s")))
    val guarded = reps
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy("bk")))
      .filter(assert_true(col("__bn") <= maxBlock,
        lit(s"jaroWinklerJoin: a block holds more than maxBlock=" +
          s"$maxBlock distinct strings — candidates grow as |block|**2; " +
          "pick a finer blockKey or raise maxBlock")).isNull)
      .drop("__bn")
    guarded.as("a").join(guarded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .withColumn("jaro", call_function("graft_jaro", col("s_a"), col("s_b")))
      .withColumn("jw",
        call_function("graft_jaro_winkler", col("s_a"), col("s_b")))
      .filter(col("jw") >= threshold)
      .select("id_a", "id_b", "s_a", "s_b", "jaro", "jw")
  }
}
