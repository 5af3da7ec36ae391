package graft

import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation — the LLM-side analog of
  * [[Pipeline]]: raw documents → quality gate → near-duplicate removal →
  * token-window chunking → deterministic split → parquet partitioned by
  * split. Every stage is one of the engine's tested operators; this
  * object only composes them, so the whole flow inherits their scale
  * properties (hash-key shuffles, bucket joins, zero-shuffle chunking).
  *
  * Leakage note: the train/val/test label is assigned from the DOCUMENT
  * id and inherited by its chunks — assigning per chunk would scatter
  * near-identical overlapping windows of one document across splits,
  * quietly leaking train content into eval.
  */
object LlmPipeline {

  /** Quality-gated, decontaminated, deduplicated, mixture-sampled,
    * chunked, split corpus. Returns the chunk-level frame that was
    * written:
    * `(doc_id, chunk_idx, chunk_text, n_chunk_tokens, quality, lang, split)`.
    *
    * Optional stages: `urlCol` first collapses crawl-level URL
    * duplicates (min id per [[TextAnalysis.canonicalUrl]] form — the
    * cheapest dedup pass, before any text machinery runs); `benchmark`
    * (+`benchmarkText`) drops documents sharing any `decontamK`-gram
    * with the eval corpus BEFORE dedup (a contaminated doc must not
    * survive as its cluster's representative), and with
    * `fuzzyDecontam = true` additionally drops paraphrase-level leaks
    * (MinHash Jaccard ≥ `fuzzyMinJaccard` against the benchmark);
    * `mixtureRates` applies per-`mixtureDomainCol` keep rates AFTER
    * dedup (sampling first would make survivor selection depend on the
    * mixture, coupling two decisions that should be independent). */
  def curate(docs: DataFrame, idCol: Column, textCol: Column, outDir: String,
      maxTokens: Int = 512, overlap: Int = 64, minQuality: Double = 0.6,
      minJaccard: Double = 0.8,
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      benchmark: Option[DataFrame] = None, benchmarkText: Column = col("text"),
      decontamK: Int = 13,
      fuzzyDecontam: Boolean = false, fuzzyMinJaccard: Double = 0.5,
      mixtureRates: Map[String, Double] = Map.empty,
      mixtureDomainCol: Column = col("source"),
      urlCol: Option[Column] = None)
      : DataFrame = {
    // 0. crawl-level URL dedup (optional): min id per canonical URL.
    //    Survivors come from a PROJECTED (url, id) aggregate semi-joined
    //    back — the dedupCorpus pattern — so only url/id pairs shuffle,
    //    never document text. Null-URL rows (mixed non-crawl sources)
    //    are NOT a dedup group: they all pass through untouched.
    val deduped = urlCol.fold(docs) { u =>
      val survivors = docs.filter(u.isNotNull)
        .select(TextAnalysis.canonicalUrl(u).as("__curl"), idCol.as("__uid"))
        .groupBy("__curl").agg(min(col("__uid")).as("__uid"))
        .select("__uid")
      docs.join(survivors, idCol === col("__uid"), "left_semi")
        .unionByName(docs.filter(u.isNull))
    }
    // 1. [[gated]]; the fuzzy pass catches paraphrased leaks the exact
    //    k-gram check is blind to
    val exactClean = gated(deduped, idCol, textCol, minQuality,
      benchmark, benchmarkText, decontamK)
    val scored = benchmark.filter(_ => fuzzyDecontam).fold(exactClean)(b =>
      Curation.fuzzyDecontaminate(exactClean, col("__id"), col("__text"),
        b, benchmarkText, minJaccard = fuzzyMinJaccard))
    // 2. exact + near dedup → survivor ids (hash shuffles only), then a
    //    semi join keeps the surviving documents' full rows
    val survivors = Dedup.dedupCorpus(scored, col("__id"), col("__text"),
      minJaccard = minJaccard)
    val kept = scored.join(survivors.select(col("id").as("__id")), Seq("__id"), "left_semi")
    // 2b. target-mixture sampling of the survivors (deterministic
    //     md5-threshold filter; after dedup so survivor selection and
    //     mixture stay independent decisions). No rates keep every row:
    //     the filter is `true` and the optimizer drops it.
    writeChunks(Curation.mixtureSample(kept, col("__id"), mixtureDomainCol, mixtureRates),
      splits, maxTokens, overlap, outDir, "overwrite")
  }

  /** A snapshot's worth of [[curate]] plus its carried dedup state. */
  final case class SnapshotResult(chunks: DataFrame, state: DataFrame)

  /** Snapshot-mode curation — [[curate]]'s stages with
    * [[Dedup.incrementalDedup]] in place of the from-scratch
    * [[Dedup.dedupCorpus]]: the batch is gated, decontaminated, then
    * deduplicated against BOTH itself and every previous snapshot's
    * retained docs (carried as [[Dedup.corpusState]] — hashes +
    * signatures, never text), chunked, split-labeled, and APPENDED to
    * `outDir`. Per-snapshot cost is ∝ batch, not ∝ corpus: the history
    * participates only through the state joins. Start from
    * `Dedup.corpusState(emptyBatch, ...)` or any prior corpus; feed each
    * returned `state` to the next call. Split labels stay stable across
    * snapshots (hash of the document id), so a later snapshot can never
    * move an earlier document's near-twin into a different split. */
  def curateSnapshot(batch: DataFrame, idCol: Column, textCol: Column,
      state: DataFrame, outDir: String,
      maxTokens: Int = 512, overlap: Int = 64, minQuality: Double = 0.6,
      minJaccard: Double = 0.8,
      splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      benchmark: Option[DataFrame] = None, benchmarkText: Column = col("text"),
      decontamK: Int = 13): SnapshotResult = {
    val scored = gated(batch, idCol, textCol, minQuality,
      benchmark, benchmarkText, decontamK)
    val r = Dedup.incrementalDedup(scored, col("__id"), col("__text"),
      state, minJaccard = minJaccard)
    val kept = scored.join(r.kept.select(col("id").as("__id")), Seq("__id"), "left_semi")
    val chunks = writeChunks(kept, splits, maxTokens, overlap, outDir, "append")
    // Materialize the carried state (executor-local blocks) so (a) the next
    // snapshot's plans don't drag this step's full lineage along — across
    // many snapshots that lineage compounds into re-running every previous
    // batch's minhashing — and (b) this step's signature cache can be
    // released instead of accreting one cached batch per snapshot.
    val carried = r.state.localCheckpoint(true)
    r.release()
    SnapshotResult(chunks, carried)
  }

  /** Stage 1 of [[curate]] and [[curateSnapshot]]: score + gate
    * (scan-speed expressions, no shuffle), then exact benchmark
    * decontamination (broadcast eval grams, no corpus shuffle) — before
    * dedup, so contaminated docs can't become cluster representatives.
    * Adds `__id`, `__text`, `quality` and `lang`. */
  private def gated(docs: DataFrame, idCol: Column, textCol: Column,
      minQuality: Double, benchmark: Option[DataFrame],
      benchmarkText: Column, decontamK: Int): DataFrame = {
    val scored = docs
      .withColumn("__id", idCol)
      .withColumn("__text", textCol)
      .withColumn("quality", TextAnalysis.qualityScore(textCol))
      .withColumn("lang", TextAnalysis.languageGuessFromTokens(
        TextAnalysis.wsTokens(lower(textCol))))
      .filter(col("quality") >= minQuality)
    benchmark.fold(scored)(b =>
      Curation.decontaminate(scored, col("__id"), col("__text"),
        b, benchmarkText, decontamK))
  }

  /** Last stage of [[curate]] and [[curateSnapshot]]: split label from
    * the DOCUMENT id (leak-free), then chunk — the doc-level columns ride
    * through the chunker, zero joins — and write partitioned by split. */
  private def writeChunks(kept: DataFrame, splits: Seq[(String, Double)],
      maxTokens: Int, overlap: Int, outDir: String, mode: String): DataFrame = {
    val labeled = kept.withColumn("split",
      TextAnalysis.hashSplit(col("__id"), splits))
    val chunks = TextAnalysis.chunkByTokens(labeled, col("__id"), col("__text"),
        maxTokens, overlap, passthrough = Seq("quality", "lang", "split"))
      .withColumnRenamed("id", "doc_id")
    chunks.write.mode(mode).partitionBy("split").parquet(outDir)
    chunks
  }
}
