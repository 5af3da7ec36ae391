package graft

import graft.operators._
import graft.sources.Fasta
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale probe (`runMain graft.Probe scale`): generates a synthetic
  * corpus ~100× the sf0.1 testdata and measures the engine's heavy
  * operators end-to-end on local[32]. The point is to catch super-linear
  * behavior (quadratic expression eval, bucket blowup, driver funnels) at
  * a size where it shows, and to record single-node throughput numbers
  * that extrapolate to cluster scale. Prints one JSON line per stage:
  * {"stage":..., "rows":..., "sec":...}. A selected stage runs with the
  * earlier stages of its group it `needs` (files, cached frames or models
  * it reads); a group's cached frames are released when it ends.
  */
private[graft] object ProbeScale {

  /** How a stage is recorded: `Plain`, wall seconds of the body;
    * `Shuffle`, also "shuffle_mb" written, with the listener bus settled
    * around the action; `Own`, the body prints its own line; `Setup`,
    * untimed and unlisted preparation other stages need. */
  object Clock extends Enumeration { val Plain, Shuffle, Own, Setup = Value }
  import Clock._

  final case class Stage(group: String, name: String, clock: Clock.Value,
      needs: Seq[String], body: () => Long)

  /** `(group, stage)` of every listed stage, in run order. */
  def listing: Seq[(String, String)] =
    catalog(sys.error("listing starts no session"), 0, 0)
      .filter(_.clock != Setup).map(s => s.group -> s.name)

  /** Runs the `selected` groups and stages (all when empty), each with
    * the stages it needs, in catalog order. */
  def run(spark: SparkSession, nSeqs: Int, nDocs: Int, selected: Seq[String]): Unit = {
    val stages = catalog(spark, nSeqs, nDocs)
    val picked = stages.filter(s => selected.isEmpty || selected.contains(s.group) ||
      selected.contains(s.name)).map(_.name).toSet
    // needs name earlier stages, so one backward pass collects them all
    val chosen = stages.reverse.foldLeft(picked)((acc, s) =>
      if (acc(s.name)) acc ++ s.needs else acc)
    // Shuffle bytes written by every completed stage. One
    // always-registered listener + before/after snapshots: a
    // register-per-stage listener MISSES metrics (stage-completed events
    // for fast AQE jobs can land on the async bus after the action
    // returns — measured as a false 0.0 MB on the count-distinct stage).
    val shuffleBytes = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    stages.filter(s => chosen(s.name)).foldLeft("") { (last, s) =>
      if (last.nonEmpty && last != s.group) spark.catalog.clearCache()
      record(s, shuffleBytes)
      s.group
    }
    spark.catalog.clearCache()
  }

  private def record(s: Stage, shuffleBytes: AtomicLong): Unit = s.clock match {
    case Setup | Own => s.body(): Unit
    case Plain =>
      val (rows, sec) = Probe.clock(s.body())
      println(f"""{"stage":"${s.name}","rows":$rows,"sec":$sec%.2f}""")
    case Shuffle =>
      Thread.sleep(800) // drain any previous stage's stragglers
      val before = shuffleBytes.get()
      val (rows, sec) = Probe.clock(s.body())
      Thread.sleep(1500) // let the async listener bus drain this job
      val mb = (shuffleBytes.get() - before) / 1048576.0
      println(f"""{"stage":"${s.name}","rows":$rows,"sec":$sec%.2f,"shuffle_mb":$mb%.1f}""")
  }

  /** Runs every column of the plan. DataFrame.count() lets column pruning
    * DELETE unused aggregate functions (count of groups does not need
    * count(distinct) — its exchange vanished), so shuffle-measuring
    * stages count the RDD of the full physical plan instead. */
  private def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Every stage, in run order. Nothing here touches `session` until a
    * stage runs, so listing the catalog starts no Spark. */
  def catalog(session: => SparkSession, nSeqs: Int, nDocs: Int): Seq[Stage] = {
    lazy val spark = session
    import spark.implicits._
    val stages = scala.collection.mutable.ArrayBuffer[Stage]()
    var group = ""
    def add(clock: Clock.Value, name: String, needs: Seq[String])(body: => Long): Unit =
      stages += Stage(group, name, clock, needs, () => body)
    def stage(name: String, needs: String*)(body: => Long): Unit = add(Plain, name, needs)(body)
    def shuffled(name: String, needs: String*)(body: => Long): Unit = add(Shuffle, name, needs)(body)
    def setup(name: String, needs: String*)(body: => Any): Unit = add(Setup, name, needs) { body; 0L }

    // ---- synthetic aligned corpus: one reference, nSeqs mutated rows ----
    group = "domain"
    val AAs = "ACDEFGHIKLMNPQRSTVWY"
    val ref = {
      val r = new scala.util.Random(11)
      Seq.fill(1273)(AAs(r.nextInt(20))).mkString // Spike-sized protein
    }
    val fastaDir = "/tmp/graft_scale_fasta"
    stage("gen_fasta_write") {
      val refB = spark.sparkContext.broadcast(ref)
      val df = spark.range(nSeqs).map { i =>
        val r = new scala.util.Random(i)
        val sb = new StringBuilder(refB.value)
        // ~5 substitutions per row, occasional deletion run
        for (_ <- 0 until 5) sb.setCharAt(r.nextInt(sb.length), AAs(r.nextInt(20)))
        if (i % 7 == 0) { val p = 1 + r.nextInt(sb.length - 5)
          for (j <- p until p + 3) sb.setCharAt(j, '-') }
        (s"Uniq$i;size=${1 + (i % 9)};", sb.toString)
      }.toDF("header", "seq")
      Fasta.write(df, fastaDir)
      nSeqs.toLong
    }

    stage("fasta_scan_dsv2", "gen_fasta_write") {
      spark.read.format("fasta").load(s"$fastaDir/*.txt").count()
    }

    lazy val aligned = Fasta.withClusterFields(
      spark.read.format("fasta").load(s"$fastaDir/*.txt"))
      .select(col("cluster_id").as("clusterId"),
        col("cluster_size").as("clusterSize"), col("seq"))
      .as[AlignedSeq]

    stage("variant_caller_flatmap", "gen_fasta_write") {
      VariantCalling.callAll(aligned, ref).count()
    }

    stage("exact_dedup_hashed", "gen_fasta_write") {
      Dedup.exactClusters(aligned.toDF(), col("clusterId"), col("seq")).count()
    }

    // ---- domain headline path (the original mission's spine, SURVEY
    // §3.1–3.2): FASTA scan → flatMap variant caller → cache → the five
    // MSA_Reader report products, then the ONE-SHUFFLE weekly matrix
    // over a synthetic metadata join. Reference complexity for the same
    // products: O(ref_len × events) Python loops per report
    // (MSA_Reader.py) and O(weeks × continents × rows) for the series
    // (Time_Series.py); here each report is one exchange over the
    // cached events and the matrix shuffles its genome rows once, as
    // (region, week, cluster) keys with no code list. ----
    lazy val events = VariantCalling.callAll(aligned, ref).cache()
    stage("domain_call_and_cache", "gen_fasta_write") { events.count() }
    lazy val totalSeqs = aligned.agg(sum(col("clusterSize"))).head().getLong(0)
    setup("domain_total_seqs", "domain_call_and_cache") { totalSeqs }
    stage("domain_report_info_by_cluster", "domain_total_seqs") {
      Reports.infoByCluster(events).count()
    }
    stage("domain_report_info_by_code", "domain_total_seqs") {
      Reports.infoByCode(events, None).count()
    }
    stage("domain_report_mutation_csv", "domain_total_seqs") {
      Reports.mutationCsv(events, totalSeqs).count()
    }
    lazy val perPos = Reports.perPositionTable(events, ref, totalSeqs)
    stage("domain_report_per_position", "domain_total_seqs") { perPos.count() }
    stage("domain_report_pymol", "domain_total_seqs") { Reports.pymolStrings(perPos).count() }
    lazy val perCluster =
      VariantTimeSeries.variantsPerCluster(events, "RefCluster", 1)
    stage("domain_variants_per_cluster", "domain_total_seqs") { perCluster.count() }
    // synthetic metadata: 2 accessions per cluster, 52 weeks × 6 regions
    val regions = Seq("Asia", "Europe", "Africa", "Oceania",
      "North America", "South America")
    lazy val meta = spark.range(nSeqs * 2L).select(
      concat(lit("acc"), col("id")).as("accession"),
      date_format(date_add(lit("2021-01-03").cast("date"),
        pmod(col("id") * 37L, lit(364)).cast("int")), "yyyy-MM-dd")
        .as("date"),
      element_at(typedLit(regions), (pmod(col("id"), lit(6)) + 1).cast("int"))
        .as("region"))
    lazy val clusterMap = spark.range(nSeqs * 2L).select(
      concat(lit("acc"), col("id")).as("accession"),
      concat(lit("Uniq"), pmod(col("id"), lit(nSeqs))).as("cluster_id"))
    shuffled("domain_weekly_matrix_one_shuffle", "domain_total_seqs") {
      exec(VariantTimeSeries.weeklyMatrix(
        VariantTimeSeries.joinMetadata(meta, clusterMap, perCluster)))
    }
    // the shape Pipeline.analyzeMsa writes: the matrix sorted into one
    // partition (Sinks.writeCsv's coalesce(1)), every row executed
    shuffled("domain_weekly_matrix_ordered_one_file", "domain_total_seqs") {
      exec(VariantTimeSeries.weeklyMatrix(
        VariantTimeSeries.joinMetadata(meta, clusterMap, perCluster))
        .orderBy("region", "code", "week_start").coalesce(1))
    }
    // the heatmap's read of the one-file matrix CSV (Pipeline.analyzeMsa):
    // its Worldwide rows in one task, against the same rows scanned split
    // by split; the CSV write itself is timed first
    val matrixDir = "/tmp/graft_scale_weekly_matrix"
    add(Own, "domain_weekly_matrix_csv", Seq("domain_total_seqs")) {
      val (_, sec) = Probe.clock(graft.sinks.Sinks.writeCsv(
        VariantTimeSeries.weeklyMatrix(
          VariantTimeSeries.joinMetadata(meta, clusterMap, perCluster))
          .orderBy("region", "code", "week_start"), matrixDir))
      val lines = spark.read.text(matrixDir)
      val (rows, splits) = (lines.count() - 1, lines.rdd.getNumPartitions)
      println(f"""{"stage":"domain_weekly_matrix_csv","rows":$rows,"sec":$sec%.2f,"splits":$splits}""")
      rows
    }
    lazy val worldwide = graft.sinks.Sinks.readCsv(spark, matrixDir,
        VariantTimeSeries.WeeklyMatrixSchema)
      .filter(col("region") === "Worldwide").select("week_start", "code", "share")
    stage("domain_heatmap_rows_one_task", "domain_weekly_matrix_csv") {
      exec(worldwide.coalesce(1))
    }
    stage("domain_heatmap_rows_parallel", "domain_weekly_matrix_csv") { exec(worldwide) }

    // ---- attribution / survival at event scale: 1M users × 6 touches
    // (6M rows). The point: both attribution operators are ONE
    // data-sized aggregation + constant-bounded tails, and the survival
    // pair thins to a distinct-time grid — none of them should scale
    // worse than the aggregate itself. ----
    group = "attribution"
    val chansP = Seq("a", "b", "c", "d")
    lazy val touchRows = spark.range(6000000L).select(
      (col("id") / 6L).cast("long").as("u"),
      pmod(col("id"), lit(6L)).cast("int").as("pos"),
      element_at(typedLit(chansP),
        (pmod(xxhash64(col("id")), lit(4L)) + 1L).cast("int")).as("ch"))
      .withColumn("cv", pmod(col("u"), lit(3L)) === 0L)
      .cache()
    stage("attrib_events_materialize") { touchRows.count() }
    stage("shapley_1M_users_k4", "attrib_events_materialize") {
      graft.operators.Attribution.shapley(touchRows, col("u"), col("ch"),
        col("cv"), chansP).count()
    }
    stage("markov_1M_users_k4_60it", "attrib_events_materialize") {
      graft.operators.Attribution.markovRemoval(touchRows, col("u"),
        col("ch"), col("pos"), col("pos"), col("cv"), chansP).count()
    }
    lazy val subjects = spark.range(1000000L).select(col("id").as("u"),
      pmod(col("id"), lit(300L)).cast("double").as("dur"),
      (pmod(col("id"), lit(5L)) > 0L).as("ev"),
      (pmod(col("id"), lit(2L)) === 0L).as("c1"),
      (pmod(col("id"), lit(4L))).cast("string").as("g"))
    stage("kaplan_meier_1M_subjects_300t") {
      graft.operators.Stats.kaplanMeier(subjects, Seq("g"), col("dur"),
        col("ev")).count()
    }
    stage("log_rank_1M_subjects_300t") {
      graft.operators.Stats.logRank(subjects, Seq("g"), col("dur"),
        col("ev"), col("c1")).count()
    }
    // Cox PH: 8 Newton iterations × (one cell aggregation + one
    // ≤300-element in-row fold per stratum) — the claim under test is
    // that each iteration is ONE data-sized pass, subjects never
    // collect, and the driver holds only p²-per-stratum state
    lazy val coxSubjects = subjects
      .withColumn("x1", (pmod(floor(col("u") / lit(4L)), lit(2L)) === 0L)
        .cast("int").cast("double"))
      .withColumn("x2", (pmod(col("u"), lit(7L)).cast("double") -
        lit(3.0)) / lit(3.0))
    stage("cox_ph_1M_subjects_300t_p2_8it") {
      graft.operators.Cox.coxPh(coxSubjects, Seq("g"), col("dur"),
        col("ev"), Seq("x1" -> col("x1"), "x2" -> col("x2"))).count()
    }
    stage("funnel_3step_10M_events") { // ONE exchange on user, 3 stacked
      // window-mins — no per-step self-joins of the event table
      val types = Seq("view", "click", "purchase", "error", "signup")
      val ev = spark.range(10000000L).select(
        (col("id") % 150000).as("user_id"),
        timestamp_micros(lit(1600000000000000L) + col("id") * 1000000L)
          .as("ts"),
        element_at(typedLit(types), (col("id") % 5 + 1).cast("int"))
          .as("event_type"))
      Sessions.funnelSummary(ev, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")).count()
    }

    // ---- synthetic text corpus; every 10th doc also appears as a
    // near-duplicate copy (one appended token) under id + nDocs ----
    group = "text"
    lazy val docs = spark.range(nDocs).flatMap { i =>
      val id = i.toLong
      val r = new scala.util.Random(id)
      val words = Seq.fill(120)(s"w${r.nextInt(5000)}").mkString(" ")
      if (id % 10 == 0) Seq((id, words), (id + nDocs, words + " tail"))
      else Seq((id, words))
    }.toDF("doc_id", "text").cache()
    val withDocs = "docs_materialize"
    stage(withDocs) { docs.count() }

    stage("minhash_signatures", withDocs) {
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 24).count()
    }
    stage("minhash_candidates", withDocs) {
      Dedup.minhashCandidates(docs, col("doc_id"), col("text")).count()
    }
    stage("simhash_signatures", withDocs) {
      Dedup.simhashSignatures(docs, col("doc_id"), col("text")).count()
    }
    stage("dedup_corpus_full", withDocs) {
      Dedup.dedupCorpus(docs, col("doc_id"), col("text"), minJaccard = 0.5).count()
    }
    stage("dup_windows_16tok", withDocs) { // ~11M exploded windows, 16-byte digests
      TextAnalysis.duplicateWindows(docs, col("doc_id"), col("text"), k = 16).count()
    }
    stage("duplicate_spans_w5", withDocs) { // frequency pass + islands window: the
      // twins make every shingle of a twinned doc corpus-duplicated, so
      // the islands merge ~116 hits/doc into ONE maximal span each —
      // output rows ≈ 2 × twinned docs, however large the corpus
      Dedup.duplicateSpans(docs, col("doc_id"), col("text"),
        w = 5, minShingles = 3).count()
    }
    stage("curate_end_to_end", withDocs) { // gate → dedup → chunk → split → parquet
      LlmPipeline.curate(docs, col("doc_id"), col("text"),
        "/tmp/graft_scale_curated", maxTokens = 64, overlap = 8,
        minQuality = 0.2, minJaccard = 0.5).count()
    }
    stage("minhash_portable_family", withDocs) { // md5 double-hashing vs xxhash64
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 24,
        Dedup.Md5Minhash).count()
    }
    stage("decontaminate_1k_bench", withDocs) { // corpus vs 1k-doc broadcast eval set
      Curation.contaminationHits(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < nDocs),
        col("text"), k = 13).count()
    }
    stage("mixture_sample_filter", withDocs) { // pure scan filter, no shuffle
      Curation.mixtureSample(docs, col("doc_id"),
        (col("doc_id") % 4).cast("string"),
        rates = Map("0" -> 0.5, "1" -> 0.25), defaultRate = 0.9).count()
    }
    stage("seq_packing_64part", withDocs) { // per-partition greedy, 64 slices
      Curation.packSequences(
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n")),
        col("doc_id"), col("n"), budget = 2048, numPartitions = 64).count()
    }
    stage("bloom_prune_join_side", withDocs) { // 2^20-bit bloom over 1k keys
      Bloom.prune(docs, col("doc_id"),
        docs.filter(col("doc_id") % 100 === 0).select("doc_id"),
        col("doc_id")).count()
    }

    stage("frequent_items_bigrams", withDocs) { // zero-shuffle MG candidates over
      // ~13M exploded bigrams (5k-word vocab → constant decrement churn,
      // the MG worst case), then ONE exact verify count of the broadcast
      // candidate union — the key universe never shuffles
      Sketches.frequentItems(
        docs.select(explode(TextAnalysis.bigrams(
          TextAnalysis.wsTokens(col("text")))).as("k")),
        col("k"), minShare = 0.0001).count()
    }
    stage("heavy_hitters_jvm_bigrams", withDocs) { // r16: the registered
      // t_heavy_hitters path — bigrams as a narrow JVM mapPartitions
      // (identical multiset to the HOF stage above, ~3× cheaper per
      // pass; frequentItems re-executes the stream for its verify pass)
      val bg = docs.select(col("text")).as[String].mapPartitions { it =>
        it.flatMap { t =>
          if (t == null) Iterator.empty
          else {
            val toks = t.split("\\s+").iterator.filter(_.nonEmpty).toArray
            if (toks.length < 2) Iterator.empty
            else (0 until toks.length - 1).iterator.map(i =>
              toks(i) + " " + toks(i + 1))
          }
        }
      }.toDF("k")
      Sketches.frequentItems(bg, col("k"), minShare = 0.0001).count()
    }
    stage("bpe_encode_sortfirst", withDocs) { // r16: the registered t_bpe_encode
      // shape — global sort of the bare (id, text) scan FIRST, the
      // 10-pass replace-chain encode projected above the Sort so the
      // range-exchange sampling job never re-runs it; toRdd.count()
      // materializes every column (a bare count() would prune the
      // encode away)
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
        "e" -> "r", "o" -> "n", "an" -> "d", "o" -> "r")
      docs.select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .withColumn("enc", graft.operators.Bpe.applyMergesColumn(
          regexp_replace(col("text"), "\\s+", " "), merges))
        .select(col("doc_id"),
          graft.operators.Bpe.bpeTokenCountFromEncoded(col("enc"))
            .as("n_bpe_tokens"),
          md5(col("enc").cast("binary")).as("enc_md5"))
        .queryExecution.toRdd.count()
    }
    stage("weighted_sample_50_per_stratum", withDocs) { // one partitioned window;
      // priority is a pure scan-level column of (id, weight)
      Curation.weightedPrioritySample(
        docs.withColumn("w", length(col("text")).cast("double")),
        col("doc_id"), (col("doc_id") % 16).cast("string"), col("w"),
        n = 50).count()
    }
    stage("pmi_bigram_lift", withDocs) { // two exploded aggs + two token-keyed
      // joins; products stay exact in doubles
      val toks = docs.select(TextAnalysis.wsTokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("x"))
        .groupBy("x").agg(count(lit(1)).as("n_x"))
      toks.select(explode(TextAnalysis.bigrams(col("toks"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uni, Seq("x"))
        .join(uni.select(col("x").as("y"), col("n_x").as("n_y")), Seq("y"))
        .filter(col("n_xy") >= 25).count()
    }

    // Zipf-token docs, 60 tokens from a `vocab`-token Zipf-ish vocabulary
    // (density ∝ u·u toward 0); every 10th doc gets a one-token perturbed
    // twin under id + twinOffset — the pairs a join must find.
    def zipfCorpus(n: Long, vocab: Long, twinOffset: Long) =
      spark.range(n).flatMap { i =>
        val id = i.toLong
        val r = new scala.util.Random(id)
        def tok() = { val u = r.nextDouble() * r.nextDouble()
          s"z${(vocab * u).toInt}" }
        val words = Seq.fill(60)(tok()).mkString(" ")
        if (id % 10 == 0) Seq((id, words), (id + twinOffset, words + " ztail"))
        else Seq((id, words))
      }.toDF("doc_id", "text")
    stage("jaccard_prefix_join_zipf") { // prefix filtering lives on df
      // skew: the Zipf vocab gives every doc genuinely rare tokens, so
      // prefix postings stay short exactly where the self-join fans out
      Dedup.jaccardJoinPrefix(zipfCorpus(nDocs / 2, 5000L, nDocs), col("doc_id"),
        col("text"), minJaccard = 0.8).count()
    }

    var bpeMerges: Seq[(String, String)] = Seq.empty
    stage("bpe_train_200_merges", withDocs) { // ONE histogram pass + driver loop
      bpeMerges = Bpe.trainBpe(docs, col("text"), numMerges = 200,
        maxWords = 50000)
      bpeMerges.size.toLong
    }
    stage("bpe_tokenize_learned", "bpe_train_200_merges") { // narrow mapPartitions, broadcast ranks
      Bpe.tokenizeBpe(docs, col("doc_id"), col("text"), bpeMerges).count()
    }

    stage("boilerplate_line_scrub", withDocs) { // line-df count + broadcast anti-join
      // + in-order reassembly over multi-line docs (10-token lines), a
      // shared banner injected into every 3rd doc
      val lined = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("SHARED COOKIE BANNER\n")).otherwise(lit("")),
          regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n")).as("text"))
      Curation.removeBoilerplateLines(lined, col("doc_id"), col("text"),
        minDf = 1000).count()
    }
    stage("inverted_index_full", withDocs) { // one explode + one agg into postings
      Search.invertedIndex(docs, col("doc_id"), col("text")).count()
    }
    stage("bm25_16_queries", withDocs) { // scoring cost ∝ matched postings
      Search.bm25TopK(docs, col("doc_id"), col("text"),
        queries = (0L until 16L).map(q =>
          q -> Seq(s"w${q * 17 % 5000}", s"w${(q * 31 + 7) % 5000}")),
        k = 10).count()
    }
    stage("state_compaction_2x_dups", withDocs) { // one window-min exchange on the
      // signature of a dedup state whose rows are duplicated 2× —
      // collapses back to nDocs rows, decisions provably unchanged
      val dup = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + nDocs).as("doc_id"),
          col("text")))
      val st = Dedup.corpusState(dup, col("doc_id"), col("text"))
      Dedup.compactState(st).count()
    }
    stage("containment_tail_twins", withDocs) { // rare-shingle candidates + exact
      // posting-join tail; the corpus's tail-append twins sit at
      // containment ≈ 1 and must all surface
      Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        shingleK = 3, minContainment = 0.9, maxDf = 20).count()
    }
    stage("tfidf_cosine_16q", withDocs) { // sparse dots: one posting join on term
      // summed per (query, doc) pair — cost tracks the 16 query docs'
      // postings, never corpus²
      Search.tfIdfCosineTopK(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 16).select(col("doc_id").as("id")),
        k = 10).count()
    }
    stage("fuzzy_decontaminate_1k_bench", withDocs) { // cross-corpus minhash: the
      // corpus pays the signature pipeline once; the 1k paraphrased
      // bench rows ride the same banded bucket join — no all-pairs
      val bench = docs.filter(col("doc_id") < 1000)
        .select(regexp_replace(col("text"), "w1", "shifted").as("text"))
      Curation.fuzzyContaminationHits(docs, col("doc_id"), col("text"),
        bench, col("text"), minJaccard = 0.5).count()
    }

    // ---- round-8 additions: WARC container ----
    val warcDir = "/tmp/graft_scale_warc"
    stage("warc_write", withDocs) { // DSv2 batch-write protocol, 32 tasks
      docs.select(
        concat(lit("<urn:doc:"), col("doc_id"), lit(">")).as("record_id"),
        encode(col("text"), "UTF-8").as("payload"))
        .write.format("warc").mode("overwrite").save(warcDir)
      nDocs.toLong
    }
    def warc = spark.read.format("warc").option("maxSplitBytes", (4L << 20).toString)
      .load(warcDir)
    stage("warc_scan_full", "warc_write") { // split-parallel scan, payload materialized
      warc.select(sum(octet_length(col("payload")))).collect()
      nDocs.toLong
    }
    stage("warc_scan_meta_only", "warc_write") { // pruned scan SKIPS payload bytes
      warc.select(count(col("record_id"))).collect()
      nDocs.toLong
    }

    group = "vectors"
    lazy val vecs = spark.range(nDocs).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(64)(r.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding").cache()
    val withVecs = "vectors_materialize"
    stage(withVecs) { vecs.count() }
    lazy val queries = vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    stage("ann_bruteforce_16q", withVecs) {
      Similarity.bruteForceTopK(vecs, queries, 10).count()
    }
    stage("ann_lsh_16q", withVecs) {
      Similarity.lshTopK(vecs, queries, 10, numBits = 10).count()
    }
    var semCentroids: Seq[Seq[Double]] = Seq.empty
    stage("semdedup_kmeans_k64", withVecs) { // 3 Lloyd's rounds, centroids on driver
      semCentroids = Similarity.trainCentroids(vecs, k = 64, iters = 3)
      semCentroids.size.toLong
    }
    stage("semdedup_pairs_k64", "semdedup_kmeans_k64") { // within-cluster all-pairs only: one
      // equi-shuffle on the cluster id; ~(n/64)² cosines per cluster vs
      // n² globally — the published SemDeDup cost model
      Similarity.semanticDedupPairs(vecs, semCentroids, minCosine = 0.75,
        maxClusterRows = nDocs.toLong).count()
    }

    // ---- round-9 additions: SemDeDup auto-split ----

    stage("semdedup_autosplit_skewed") { // recursive sub-k-means on an
      // adversarially skewed corpus: ~95% of vectors in one tight blob,
      // so flat k=2 assignment funnels them into one cluster; the
      // auto-split re-clusters until every final cluster is bounded
      val bound = math.max(1000L, nDocs / 16L)
      val skew = spark.range(nDocs.toLong).map { i =>
        val r = new scala.util.Random(i)
        val c = if (i % 20 == 0) -5.0 else 5.0
        (i, Seq.fill(16)((c + r.nextGaussian()).toFloat))
      }.toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(skew, k = 2, iters = 1)
      val assigned = Similarity.semanticAssign(skew, cents,
        maxClusterRows = bound, maxSplitDepth = 4)
      val maxSz = assigned.groupBy("cluster").count()
        .agg(max("count")).head().getLong(0)
      require(maxSz <= bound, s"auto-split left a cluster of $maxSz rows")
      assigned.count()
    }

    // ---- round-9 additions: IVF-PQ ----

    var pqCb: Seq[Seq[Seq[Double]]] = Seq.empty
    var ivfPqEnc: org.apache.spark.sql.DataFrame = null
    stage("ivfpq_encode_full", "semdedup_kmeans_k64") { // coarse argmin + 8 subspace argmins per
      // row in one scan, zero shuffle; at rest each vector is 16 code
      // bytes + norm instead of 512 vector bytes
      pqCb = Similarity.trainPqCodebooks(vecs, dim = 64, m = 8, k = 16,
        iters = 0)
      ivfPqEnc = Similarity.pqEncode(
        Similarity.ivfIndex(vecs, semCentroids), pqCb).cache()
      ivfPqEnc.count()
    }
    stage("ivfpq_search_16q_nprobe4", "ivfpq_encode_full") { // candidates ≈ 4/64 of the codes
      // per query, each scored by 8 table lookups — full vectors are
      // never reopened (the FAISS IndexIVFPQ cost model)
      Similarity.ivfPqTopK(ivfPqEnc, queries, k = 10, semCentroids, pqCb,
        nProbe = 4).count()
    }

    // ---- round-10 additions: on-disk index probe pruning ----

    val ivfIdxDir = "/tmp/graft_scale_ivfpq_index"
    stage("ivfpq_index_write_partitioned", "ivfpq_encode_full") { // one directory per inverted
      // list; the quantizers ride under _quantizers (skipped by readers)
      Similarity.writeIvfPqIndex(ivfPqEnc, semCentroids, pqCb, ivfIdxDir)
      nDocs.toLong
    }
    lazy val ivfIdx = Similarity.readIvfPqIndex(spark, ivfIdxDir)
    lazy val probedL = Similarity.probedLists(queries, ivfIdx.centroids, nProbe = 4)
    setup("ivfpq_index_read", "ivfpq_index_write_partitioned") { probedL }
    stage("ivfpq_ondisk_pruned_search_16q", "ivfpq_index_read") { // probedLists → isin filter →
      // static partition pruning at the LISTING: only the probed lists'
      // directories are ever opened, per-query I/O ∝ nProbe/k of the index
      Similarity.ivfPqTopK(
        ivfIdx.data.filter(col("ivf_list").isin(probedL: _*)),
        queries, k = 10, ivfIdx.centroids, ivfIdx.codebooks,
        nProbe = 4).count()
    }
    add(Own, "ivfpq_probe_pruning_files", Seq("ivfpq_index_read")) {
      // measured pruning ratio: files under probed list dirs vs
      // all — for the 16-query BATCH (whose probed union approaches the
      // list universe as queries diversify) and for ONE query (the
      // serving-path number: nProbe/k of the directories)
      def dataFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Seq.empty
          else f.listFiles().toSeq.flatMap(dataFiles)
        } else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      val all = dataFiles(new java.io.File(ivfIdxDir))
      def opened(lists: Seq[Int]): Int = {
        val dirs = lists.map(l => s"ivf_list=$l").toSet
        all.count(f => dirs.contains(f.getParentFile.getName))
      }
      val one = Similarity.probedLists(queries.limit(1), ivfIdx.centroids,
        nProbe = 4)
      println(s"""{"stage":"ivfpq_probe_pruning_files","rows":${opened(probedL).toLong},"sec":0.00,"total_files":${all.size},"one_query_files":${opened(one)},"batch_lists":${probedL.size},"one_query_lists":${one.size}}""")
      0L
    }

    // ---- round-10 additions: JPEG decode; round-9: audio fingerprints ----
    group = "multimodal"
    lazy val jpegs = spark.range(nDocs.toLong).map { i =>
      (i, Multimodal.encodeJpeg(24, 24, (x, y) => {
        val v = ((x * 31 + y * 17 + i * 7) % 256).toInt
        (v << 16) | (v << 8) | v
      }))
    }.toDF("id", "payload").cache()
    stage("jpeg_encode_materialize") { jpegs.count() }
    stage("jpeg_decode_dhash_full", "jpeg_encode_materialize") { // ImageIO decode → 9×8 gray
      // downsample → 64-bit dHash per row, narrow mapPartitions: the
      // multimodal decode path at corpus scale (24×24 thumbs — the cost
      // is per-row decoder overhead, the thumbnail-pass regime)
      Multimodal.imageDHashes(jpegs, col("id"), col("payload")).count()
    }
    stage("audio_fingerprint_hashes") { // real RIFF encode → chunk walk →
      // 65-window envelope hash per row, narrow mapPartitions throughput
      val audio = spark.range(nDocs.toLong).map { i =>
        val samples = Array.tabulate(400)(j =>
          (((i * 37 + j * 73) % 4001) - 2000).toShort)
        (i, Multimodal.encodeWavPcm16(8000, samples))
      }.toDF("id", "payload")
      Multimodal.audioFingerprints(audio, col("id"), col("payload")).count()
    }

    // ---- round-8 additions: range join, Z-order; round-9: snapshot
    // diff, agg-then-join ----
    group = "tables"
    stage("range_join_2M_x_1k") { // optimizer-rewritten BroadcastRangeJoin:
      // 2M probes binary-search 1k broadcast intervals — the stock plan
      // is a BroadcastNestedLoopJoin doing 2e9 comparisons
      val probes = spark.range(2000000).select(
        col("id"), (col("id") * 2654435761L % 1000000L).as("v"))
      val ivals = spark.range(1000).select(
        concat(lit("band"), col("id")).as("name"),
        (col("id") * 1000L).as("lo"), (col("id") * 1000L + 999L).as("hi"))
      probes.join(ivals, col("v") >= col("lo") && col("v") <= col("hi")).count()
    }

    val zDir = "/tmp/graft_scale_zorder"
    stage("zorder_write_2M") { // min/max pass + range shuffle + sorted write
      val df = spark.range(2000000).select(
        (col("id") * 2654435761L % 100000L).as("a"),
        (col("id") * 40503L % 100000L).as("b"),
        col("id").as("payload"))
      graft.sinks.Clustered.writeZOrdered(df, zDir, Seq("a", "b"), nFiles = 64)
      2000000L
    }
    stage("zorder_pruned_scan", "zorder_write_2M") { // two-column band filter over 64 files
      spark.read.parquet(zDir)
        .filter(col("a") < 5000 && col("b") < 5000).count()
    }

    val compactDir = "/tmp/graft_scale_compact"
    stage("compact_fixture_512_files") { // the streaming-append pathology:
      // 2M rows accreted as 512 tiny files across 8 hive partitions
      spark.range(2000000).select(col("id"), (col("id") % 8).as("p"))
        .repartition(64).write.mode("overwrite")
        .partitionBy("p").parquet(compactDir)
      2000000L
    }
    stage("compact_selective_rewrite", "compact_fixture_512_files") { // listing-only plan,
      // then rewrite ONLY violating leaves (here: all 8), each to ceil(bytes/target)
      graft.sinks.Compaction.compact(spark, compactDir,
        targetBytes = 16L << 20).map(_.filesAfter.toLong).sum
    }
    stage("compact_noop_second_pass", "compact_selective_rewrite") { // already-compact
      // table: plan says nothing to do, zero data read or written
      graft.sinks.Compaction.compact(spark, compactDir,
        targetBytes = 16L << 20).size.toLong
    }

    // Snapshot diff at 4M keys with ~1% churn, digest form: the exchange
    // carries key + 8-byte digest, never the 120-token payload.
    lazy val snapOld = spark.range(4000000).select(col("id").as("k"),
      concat(lit("payload_"), col("id") % 97).as("a"),
      (col("id") % 1013L).as("b")).cache()
    lazy val snapNew = spark.range(40000, 4040000).select(col("id").as("k"),
      concat(lit("payload_"),
        when(col("id") % 100 === 0, (col("id") % 97) + 1)
          .otherwise(col("id") % 97)).as("a"),
      (col("id") % 1013L).as("b")).cache()
    stage("snapshot_sides_materialize") { snapOld.count() + snapNew.count() }
    stage("snapshot_diff_digest_4M", "snapshot_sides_materialize") {
      SnapshotDiff.rowStatusDigest(snapOld, snapNew, Seq("k"), Seq("a", "b"))
        .groupBy("status").count().count()
    }

    stage("merge_cdc_4M_base_400k_changes") { // keyed MERGE at the CDC
      // trickle ratio (10%): ONE anti join vs the change keys + union;
      // the 4M-row base never shuffles on a non-key
      val base = spark.range(4000000).select(col("id").as("k"),
        (col("id") % 1013L).as("v"))
      val changes = spark.range(400000).select(
        (col("id") * 10L).as("k"),
        when(col("id") % 5 === 0, "D").otherwise("U").as("op"),
        (col("id") % 7L).as("v"))
      operators.Merge.applyChanges(base, changes, Seq("k")).count()
    }

    stage("quality_6_constraints_one_pass") { // six rules, ONE scan of a
      // 4M-row table — the report cost must not scale with rule count
      val tbl = spark.range(4000000).select(col("id").as("k"),
        (col("id") % 97L).cast("double").as("v"),
        concat(lit("S"), (col("id") % 3L)).as("status"))
      operators.Quality.report(tbl, Seq(
        operators.Quality.NotNull("k"),
        operators.Quality.InRange("v", 0.0, 90.0),
        operators.Quality.InSet("status", Seq("S0", "S1", "S2")),
        operators.Quality.Matches("status", "^S"),
        operators.Quality.Unique(Seq("k")),
        operators.Quality.Unique(Seq("k", "status")))).count()
    }

    stage("q18_agg_before_join_6M") { // the TPC-H Q18 shape at 100×: the
      // HAVING filter collapses 6M fact rows to a handful of keys BEFORE
      // any join — the anti-pattern (join first) would shuffle all 6M
      val fact = spark.range(6000000).select(
        (col("id") % 1500000L).as("okey"), (col("id") % 50 + 1).as("qty"))
      val dim = spark.range(1500000).select(col("id").as("okey"),
        concat(lit("c"), col("id") % 100000L).as("cust"))
      fact.groupBy("okey").agg(sum(col("qty")).as("sum_qty"))
        .filter(col("sum_qty") > 180)
        .join(dim, Seq("okey")).count()
    }

    // ---- round-9 additions: link graph ----
    group = "graph"
    stage("cc_path_graph_1M_hops") { // adversarial diameter for components:
      // a 1M-hop chain needs ~1M rounds under label propagation; the
      // large-star/small-star contraction closes it in O(log n) rounds
      val chain = spark.range(1000000)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.connectedComponents(chain, maxIter = 60).count()
    }

    // Pseudo-random host graph: 4M directed edges over 100k nodes
    // (xxhash64 endpoint mixing — polynomial fixtures mod N are secretly
    // 1-dimensional and triangle-free), PLUS a 50k-in-edge hub at the
    // max node id. The hub is the adversarial shape for triangle
    // counting; oriented (u<v) expansion gives the hub a FORWARD degree
    // of zero, so its 50k-edge adjacency never expands.
    lazy val edges = spark.range(4000000).select(
        pmod(xxhash64(col("id")), lit(100000L)).as("src"),
        pmod(xxhash64(col("id") + 7000000L), lit(100000L)).as("dst"))
      .union(spark.range(50000).select(
        pmod(xxhash64(col("id") + 9000000L), lit(99999L)).as("src"),
        lit(99999L).as("dst")))
      .where(col("src") =!= col("dst")).cache()
    val withEdges = "graph_edges_materialize"
    stage(withEdges) { edges.count() }
    stage("pagerank_4M_edges_k4", withEdges) { // 4 unrolled join+agg rounds, 16-byte
      // shuffle rows; integer arithmetic end to end
      Graph.pageRank(edges, iterations = 4).count()
    }
    stage("triangles_4M_edges", withEdges) { // oriented two-join: expansion is
      // bounded by FORWARD degree, and the hub sits at the MAX node id,
      // so its forward degree is 0 and its 50k-edge adjacency never
      // expands (an id-0 hub would be the adversarial placement)
      Graph.triangleCount(edges).collect()(0).getLong(0)
    }
    stage("ppr_4M_edges_k4_3seeds", withEdges) { // personalized teleport: identical
      // per-round plan to pagerank (the seed membership is a folded
      // 0/teleport column, not a per-round join) — the probe asserts
      // the personalization costs nothing extra per iteration
      Graph.personalizedPageRank(edges,
        spark.range(3).select(col("id").as("node")), iterations = 4).count()
    }
    stage("kcore_peel_4M_edges_k40_r4", withEdges) { // 4 peel rounds at k=40 (avg
      // undirected degree ~80 here): each round one degree aggregate +
      // two semi joins over the SURVIVING 16-byte edge set — cost per
      // round shrinks as the periphery peels
      Graph.kcorePeel(edges, k = 40, rounds = 4).count()
    }
    stage("bfs_layers_4M_edges_d3", withEdges) { // 3 frontier rounds from 3 seeds
      // on a ~100k-node near-expander: the frontier saturates by hop 2,
      // so the probe exercises the worst (densest) frontier join shape
      Graph.bfsLayers(edges,
        spark.range(3).select(col("id").as("node")), maxDepth = 3).count()
    }

    // ---- bounded top-k / KMV vs the window-rank shape (round 10) ----
    // Wall-clock alone understates the difference at local[32]: the
    // exchange is an in-memory copy here, so also record SHUFFLE BYTES
    // WRITTEN — the quantity that becomes the network bottleneck on a
    // real cluster — via stage metrics.
    // HONEST baseline first: Spark 4 already plans a PARTIAL
    // WindowGroupLimit below the exchange for row_number + rn<=k, so for
    // NARROW rows the window shape ships the same ~groups×k×partitions
    // rows the aggregator does (measured: 1.2 MB both at 1k groups).
    // The aggregator's batch edge is PAYLOAD: the window must shuffle
    // whole rows (its output needs them), while topKPerGroup ships
    // 16-byte (ord, tie) pairs and joins the ≤ groups×k winners back —
    // the wide-payload pair below measures exactly that. Its other
    // edges are structural: mergeable state (the streaming face), the
    // distinct mode (KMV), and no per-partition sort.
    // Fixture honesty, learned the hard way (each measured): (a) the
    // action is toRdd.count() ([[exec]]); (b) payloads
    // are md5-derived, because shuffle files are LZ4'd and a repeated
    // character compresses 100:1 (40 MB of 'p's measured as 1.2 MB);
    // (c) distinct values must not be PROVABLY unique (distinct-key
    // tracking rewrites count(distinct unique_col) to count).
    group = "shuffle"
    def topkInput(groups: Long) = spark.range(10000000).select(
      (col("id") % groups).as("g"),
      (col("id") * 2654435761L % 1000003L).cast("double").as("v"),
      col("id"))
    def top3Window(df: DataFrame) = df.withColumn("rn", row_number().over(
      Window.partitionBy("g").orderBy(col("v").desc, col("id")))).filter(col("rn") <= 3)
    for (groups <- Seq(1000L, 100000L)) {
      shuffled(s"topk_window_10M_${groups / 1000}kgroups") {
        // narrow rows: WindowGroupLimit caps both sides of the exchange
        exec(top3Window(topkInput(groups)))
      }
      shuffled(s"topk_agg_10M_${groups / 1000}kgroups") {
        // capped aggregator: ≤ 3 entries per group per input partition
        exec(Ranks.topKPerGroup(topkInput(groups), Seq("g"), col("v"),
          col("id"), k = 3))
      }
    }
    lazy val widePayload = topkInput(1000L).withColumn("payload", concat(
      (0 to 7).map(k => md5((col("id") + k).cast("string").cast("binary"))): _*
      )) // 256 hex chars/row of hash output — does not LZ4 away
    shuffled("topk_window_wide_10M_1kgroups") { // the window's
      // group-limit caps row COUNT, but every surviving row crosses the
      // exchange WITH its payload (the output needs the winners' bytes)
      exec(top3Window(widePayload).select("g", "rn", "payload"))
    }
    shuffled("topk_agg_wide_10M_1kgroups") { // aggregator never
      // ships payload: 16-byte pairs shuffle, the 3k winners join back
      val winners = Ranks.topKPerGroup(widePayload, Seq("g"), col("v"),
        col("id"), k = 3, tieName = "id")
      exec(widePayload.join(broadcast(winners.select("id", "rank")),
        Seq("id")).select("g", "rank", "payload"))
    }
    def kmvInput = spark.range(10000000).select(
      (col("id") % 8L).as("g8"),
      (col("id") * 2654435761L % 3000000L).as("v"))
    shuffled("distinct_exact_10M_8groups") { // the shape KMV
      // replaces: every distinct (g, value) crosses the exchange
      exec(kmvInput.groupBy("g8").agg(countDistinct(col("v"))))
    }
    shuffled("kmv_distinct_10M_8groups") { // same data: exchange
      // carries 64 hashes per group per partition, values never shuffle
      exec(Sketches.kmvSketch(kmvInput, Seq("g8"), col("v"), k = 64)
        .estimate)
    }

    // Prefix-filter Jaccard join candidate growth: the operator's scale
    // risk is the posting self-join — candidate volume is
    // Σ_token C(posting, 2), so it stays sub-quadratic in corpus size
    // ONLY while posting lengths stay bounded. Measure both regimes at
    // 1× and 4× corpus on Zipf-token docs:
    //  - FIXED vocabulary (adversarial: every token's df grows with the
    //    corpus, postings lengthen, candidates go quadratic — the
    //    hazard maxPosting exists to fail fast on);
    //  - OPEN vocabulary (realistic: Heaps' law, vocab grows with the
    //    corpus, per-token df — hence postings — stays flat, candidates
    //    grow ~linearly).
    for (n <- Seq(50000L, 200000L)) {
      shuffled(s"jaccard_prefix_cands_fixedvocab_${n / 1000}kdocs") {
        exec(Dedup.jaccardPrefixCandidates(zipfCorpus(n, 50000L, 10000000L),
          col("doc_id"), col("text"), minJaccard = 0.8,
          maxPosting = 100000))
      }
      shuffled(s"jaccard_prefix_cands_openvocab_${n / 1000}kdocs") {
        exec(Dedup.jaccardPrefixCandidates(zipfCorpus(n, n, 10000000L),
          col("doc_id"), col("text"), minJaccard = 0.8,
          maxPosting = 100000))
      }
    }

    // PCA covariance pass: the exchange must carry ONE d(d+3)/2-double
    // buffer per partition (the mergeable typed Aggregator), never the
    // vectors — 1M×64 floats reduce to 32 ~17 KB partial buffers.
    shuffled("pca_covariance_1M_64d") {
      val vecs = spark.range(1000000L).map { i =>
        val r = new scala.util.Random(i)
        Tuple1(Array.fill(64)(r.nextGaussian()))
      }.toDF("embedding")
      graft.operators.Pca.covariance(vecs, col("embedding"), 64).n
    }

    // Aalen-Johansen at 1M closed subjects, 300 distinct times, 3
    // causes: the data-sized pass is the cause-count aggregate; the
    // in-row folds run on 300 rows per group, never on subjects.
    shuffled("aalen_johansen_1M_300t_3cause") {
      val subj = spark.range(1000000L).map { i =>
        val r = new scala.util.Random(i)
        ("g" + (i % 4), (1 + r.nextInt(300)).toDouble, r.nextInt(5) match {
          case 0 => 0; case 1 | 2 => 1; case 3 => 2; case _ => 3 })
      }.toDF("g", "dur", "cause")
      exec(graft.operators.Stats.aalenJohansen(subj, Seq("g"),
        col("dur"), col("cause"), nCauses = 3))
    }

    // Propensity-stratified ATE at 1M units / 20 segments: 3 Newton
    // aggregation passes + a per-segment NTILE sort + a 100-row strata
    // aggregate; and AIPW on the same frame (one extra conditional
    // moment pass + one term-sum pass, no ranking exchange at all).
    def units = spark.range(1000000L).map { i =>
      val r = new scala.util.Random(i)
      val x = r.nextGaussian()
      val t = r.nextDouble() < 1.0 / (1.0 + math.exp(-1.5 * x))
      ("s" + (i % 20), i.toLong, x,
        t, 2.0 * (if (t) 1.0 else 0.0) + 1.5 * x + 0.3 * r.nextGaussian())
    }.toDF("seg", "id", "x", "t", "y")
    shuffled("propensity_ate_1M_20seg") {
      exec(graft.operators.Stats.propensityStratifiedAte(units,
        Seq("seg"), Seq(col("x")), col("t"), col("y"), col("id")))
    }
    shuffled("aipw_ate_1M") {
      exec(graft.operators.Stats.aipwAte(units, Seq(col("x")),
        col("t"), col("y")))
    }

    // Incremental entity resolution: a 20k-record batch arriving on a
    // 200k-record store — the per-batch cost must track the BATCH, not
    // the corpus (stored records join by 16-byte band keys; only the
    // new 20k are shingled). Measured end-to-end through the real
    // ingest path (signature, band join, scoring, parquet appends).
    group = "er"
    // records [from, until) whose 14 words come from Random(i % period)
    // (ids `period` apart repeat their text), ingested as batch `id`
    // into the store at `dir`
    def erIngest(from: Long, until: Long, period: Int, id: Long, dir: String): Unit = {
      val recs = spark.range(from, until).map { i =>
        val r = new scala.util.Random(i % period)
        val words = Seq.fill(14)("w" + r.nextInt(500000)).mkString(" ")
        (i.toLong, words, "l" + (i % 5), 100L + (i % 400))
      }.toDF("id", "text", "lang", "len")
      graft.streaming.StreamingEntityResolution.ingestBatch(recs, id,
        "id", "text", Seq("lang", "len"),
        Seq("lang" -> (col("a_lang") === col("b_lang")),
          "len" -> (abs(col("a_len") - col("b_len")) <= 20L)),
        Seq(Row("lang", 2.0, -2.0), Row("len", 2.0, -2.0)),
        0.0, dir, 3, 24, 8, 200, graft.operators.Dedup.XxMinhash)
    }
    def freshStore(name: String, dir: String): Unit =
      setup(name) { org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir)) }
    val erDir = "/tmp/graft_scale_er"
    freshStore("er_fresh_store", erDir)
    stage("er_ingest_base_200k", "er_fresh_store") {
      erIngest(0L, 200000L, 180000, 0L, erDir); 200000L
    }
    stage("er_ingest_batch_20k_on_200k", "er_ingest_base_200k") {
      erIngest(200000L, 220000L, 180000, 1L, erDir); 20000L
    }
    shuffled("er_merged_entities_220k", "er_ingest_batch_20k_on_200k") {
      exec(graft.streaming.StreamingEntityResolution
        .mergedEntities(spark, erDir))
    }

    // ---- Round-15 scale probes: Harrell's C at 1M subjects (the
    // operator was shelved twice as quadratic — this run proves the
    // bucket-grid decomposition holds), the win ratio at 1M subjects
    // (tiered Mann–Whitney counts, no pair join), and er_* store
    // maintenance (ingest latency against a fragmented vs compacted
    // store). ----
    group = "concordance"
    // 1M survival subjects: g = i % 4; Random(i + seed) draws t ∈ [1, 300],
    // the event flag (2 in 3), then x by `third`; id = i. Stages project
    // what they use, so each keeps its seed and draw order.
    def survival(seed: Long,
        third: scala.util.Random => Double = _.nextGaussian()) =
      spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + seed)
        ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0,
          third(r), i.toLong)
      }.toDF("g", "t", "e", "x", "id")
    def withRisk(seed: Long) =
      survival(seed).select(col("g"), col("t"), col("e"), col("x").as("risk"))

    // ---- Harrell's C: 1M subjects, 4 groups, 300 distinct times,
    // continuous risk (every subject a distinct risk value — the
    // worst case for the same-bucket cells) ----
    lazy val harrellSubjects = withRisk(0).persist()
    setup("harrell_subjects") { harrellSubjects.count() }
    for (b <- Seq(1024, 256)) {
      shuffled(s"harrell_c_1M_4g_b$b", "harrell_subjects") {
        exec(graft.operators.Concordance.harrellC(harrellSubjects, Seq("g"),
          col("t"), col("e"), col("risk"), buckets = b))
      }
    }

    shuffled("uno_c_1M_4g_b1024") {
      exec(graft.operators.Concordance.unoC(withRisk(0), Seq("g"), col("t"),
        col("e"), col("risk"), tau = 250.0, buckets = 1024))
    }

    // ---- AUC(t)/Brier(t): 1M subjects × 3 horizons ----
    shuffled("auc_t_1M_3h") {
      exec(graft.operators.Concordance.aucT(withRisk(3), Seq("g"), col("t"),
        col("e"), col("risk"), Seq(50.0, 150.0, 250.0)))
    }
    shuffled("auc_t_ipcw_1M_3h") {
      exec(graft.operators.Concordance.aucTIpcw(withRisk(3), Seq("g"),
        col("t"), col("e"), col("risk"), Seq(50.0, 150.0, 250.0)))
    }
    shuffled("brier_t_1M_3h") {
      val hs = Seq(50.0, 150.0, 250.0)
      val withPred = withRisk(3).withColumn("pred", array(hs.map(h =>
        lit(1.0) / (lit(1.0) + lit(h) / (lit(10.0) +
          col("risk") * col("risk")))): _*))
      exec(graft.operators.Concordance.brierIpcw(withPred, Seq("g"),
        col("t"), col("e"), col("pred"), hs))
    }

    shuffled("smr_1M_4g") {
      exec(graft.operators.Stats.smr(survival(5).select("g", "t", "e"),
        Seq("g"), col("t"), col("e")))
    }
    shuffled("surv_calibration_1M_4g_10bins") {
      val su = survival(9, _.nextDouble())
        .select(col("g"), col("t"), col("e"), col("x").as("pred"), col("id"))
      exec(graft.operators.Concordance.survivalCalibration(su, Seq("g"),
        col("t"), col("e"), col("pred"), col("id"), horizon = 150.0))
    }
    shuffled("trend_logrank_1M_4g_8lvl") {
      val su = survival(11).select(col("g"),
        (col("id") % 8).cast("double").as("l"), col("t"), col("e"))
      exec(graft.operators.Stats.trendLogRank(su, Seq("g"), col("t"),
        col("e"), col("l")))
    }

    // ---- win ratio: 1M subjects, tiered composite with heavy ties ----
    shuffled("win_ratio_1M_4g_2tiers") {
      val wr = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + 7)
        ("g" + (i % 4), i % 2 == 0, (r.nextInt(300)).toDouble,
          (r.nextInt(50)).toDouble)
      }.toDF("g", "arm", "o1", "o2")
      exec(graft.operators.Stats.winRatio(wr, Seq("g"), col("arm"),
        Seq(col("o1"), col("o2"))))
    }

    // ---- Jonckheere at 1M: grid = 8 levels × distinct values ----
    shuffled("jonckheere_1M_4g_8lvl") {
      val jt = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + 13)
        ("g" + (i % 4), (i % 8).toLong, (r.nextInt(2000)).toDouble)
      }.toDF("g", "l", "x")
      exec(graft.operators.Stats.jonckheereTerpstra(jt, Seq(col("g")),
        col("l"), col("x")))
    }

    // ---- er maintenance: 12 small batches fragment the stores; the
    // warm ingest rides er_keys, so file bloat taxes it directly ----
    group = "er_maintenance"
    val mDir = "/tmp/graft_scale_ermaint"
    def keyFiles(): Long = new java.io.File(s"$mDir/er_keys").listFiles()
      .count(_.getName.endsWith(".parquet")).toLong
    freshStore("er_maintenance_fresh_store", mDir)
    shuffled("er_base_50k_plus_12_batches_5k", "er_maintenance_fresh_store") {
      erIngest(0L, 50000L, 90000, 0L, mDir)
      (1 to 12).foreach(b =>
        erIngest(50000L + (b - 1) * 5000L, 50000L + b * 5000L, 90000, b.toLong, mDir))
      keyFiles()
    }
    shuffled("er_ingest_5k_on_fragmented_store",
        "er_base_50k_plus_12_batches_5k") {
      erIngest(110000L, 115000L, 90000, 13L, mDir); keyFiles()
    }
    shuffled("er_maintenance_compact", "er_ingest_5k_on_fragmented_store") {
      graft.streaming.StreamingEntityResolution.erMaintenance(spark,
        mDir).map(_.rowsAfter).sum
    }
    shuffled("er_ingest_5k_on_compacted_store", "er_maintenance_compact") {
      erIngest(115000L, 120000L, 90000, 14L, mDir); keyFiles()
    }

    // ---- Candidate-growth probes for the round-12 candidate-generating
    // joins (the jaccardPrefixCandidates methodology: measure the
    // operator's own candidate stage at 1× and 4× input and report the
    // growth EXPONENT, because "works on the fixture" says nothing about
    // the self-join's tail):
    //  - `editDistanceJoin`: candidates are deletion-variant hash-bucket
    //    pairs — growth tracks Σ_bucket C(|bucket|, 2). Distinct strings
    //    with a bounded typo rate keep buckets O(1), so candidates should
    //    grow ~linearly in distinct strings.
    //  - `jaroWinklerJoin`: candidates are Σ_block C(|block|, 2) — with a
    //    FIXED key universe (first byte × length bucket) block sizes grow
    //    ∝ corpus, so candidates are quadratic BY DESIGN; the probe
    //    measures it so the number is on the record next to the honest
    //    blocking contract (pick finer keys for bigger corpora).
    //  - `associationRules`: pair candidates are Σ_basket C(|b|, 2) —
    //    with bounded basket sizes (the contract the maxBasketItems guard
    //    enforces) growth is linear in baskets. ----
    group = "edit_assoc"
    // distinct short strings, every 10th with a planted single-edit twin
    // (an ADDITIONAL row — the true-pair count is n/10 by construction)
    def nameCorpus(n: Long) = spark.range(n).flatMap { i =>
      val id = i.toLong
      val r = new scala.util.Random(id)
      val base = (0 until 12).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      if (id % 10 == 0)
        Seq[(Long, String)]((id, base), (id + 10000000L, base.updated(3, 'q')))
      else Seq[(Long, String)]((id, base))
    }.toDF("id", "s")

    // JIT/codegen warmup so the 1x stage isn't charged for first-run
    // compilation (the min-of-warm-reps lesson)
    setup("edit1_warmup") {
      graft.operators.Dedup.editDistanceJoin(
        nameCorpus(5000), col("id"), col("s")).count()
    }
    for (n <- Seq(100000L, 400000L)) {
      stage(s"edit1_join_${n / 1000}k", "edit1_warmup") {
        graft.operators.Dedup.editDistanceJoin(
          nameCorpus(n), col("id"), col("s"), maxBucket = 100000).count()
      }
    }

    // jaro-winkler with the DEFAULT (first byte, length-bucket) blocking:
    // quadratic by design under a fixed key universe — measure it
    setup("jw_warmup") {
      graft.operators.Dedup.jaroWinklerJoin(
        nameCorpus(5000), col("id"), col("s"), 0.9).count()
    }
    for (n <- Seq(20000L, 80000L)) {
      stage(s"jw_join_${n / 1000}k_default_blocking", "jw_warmup") {
        graft.operators.Dedup.jaroWinklerJoin(
          nameCorpus(n), col("id"), col("s"), threshold = 0.9,
          maxBlock = 1000000).count()
      }
      // and with a 3-byte prefix key: the block universe scales with
      // the corpus and candidates drop back toward linear
      stage(s"jw_join_${n / 1000}k_prefix3_blocking", "jw_warmup") {
        graft.operators.Dedup.jaroWinklerJoin(
          nameCorpus(n), col("id"), col("s"), threshold = 0.9,
          blockKey = s => substring(s, 1, 3), maxBlock = 1000000).count()
      }
    }

    // baskets with bounded size (≤ 24 items from a 1k-item catalog);
    // "rows" here is Σ n_both = the TOTAL CANDIDATE PAIR count (the
    // actual Σ_b C(|b|,2) work), not the saturated output-key count
    def basketCorpus(n: Long) = spark.range(n).flatMap { b =>
      val bk = b.toLong
      val r = new scala.util.Random(bk)
      (0 until 8 + r.nextInt(16)).map(_ => (bk, s"i${r.nextInt(1000)}"))
    }.toDF("bk", "it")

    setup("assoc_warmup") {
      graft.operators.Assoc.associationRules(
        basketCorpus(5000), col("bk"), col("it")).count()
    }
    for (n <- Seq(100000L, 400000L)) {
      stage(s"assoc_rules_${n / 1000}k_baskets_candidates", "assoc_warmup") {
        graft.operators.Assoc.associationRules(
            basketCorpus(n), col("bk"), col("it"))
          .filter(col("antecedent") < col("consequent"))
          .agg(sum("n_both")).head().getLong(0)
      }
    }

    val names = stages.map(_.name)
    require(names.distinct.size == names.size, "duplicate stage names")
    stages.toSeq
  }
}
