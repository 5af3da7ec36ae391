package graft.streaming

import graft.operators.TimeSeries
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Streaming ingestion mode (SURVEY.md §2.9): the batch weekly aggregates
  * re-expressed over `readStream` sources with event-time semantics.
  *
  * The batch reference silently drops rows outside its configured window
  * and rows with malformed dates (`/root/reference/Time_Series.py:632–639,
  * 744`); the streaming twin makes that policy explicit: a watermark bounds
  * how late an event may arrive and still update its week.
  *
  * Counts are associative, so the SAME week-binning expression
  * (TimeSeries.weekStart) produces identical results in batch and
  * streaming — run either mode against the same sink schema.
  */
object StreamingTimeSeries {

  /** Weekly counts per key with a tumbling 7-day Sunday-aligned window.
    *
    * The grouping key MUST be `window(tsCol, ...)` over the original
    * timestamp attribute: the event-time watermark attaches to that
    * attribute and does not propagate through derived expressions like
    * `date_sub(to_date(ts), ...)` — grouping by the derived batch bin
    * (TimeSeries.weekStart) compiles, but the watermark then never evicts
    * (week, key) state and never drops late rows: unbounded state on an
    * endless stream. With the window key, state for a week is dropped once
    * the watermark passes its end, and rows later than `maxLateness` are
    * discarded (the streaming face of the batch reference's silent drop of
    * out-of-window rows, `/root/reference/Time_Series.py:632–639, 744`).
    *
    * `startTime = "3 days"` aligns tumbling starts to Sundays (epoch day
    * 1970-01-01 is a Thursday), so `to_date(window.start)` equals the batch
    * `TimeSeries.weekStart` bin — asserted batch==stream in StreamingSpec. */
  def weeklyCounts(events: DataFrame, tsCol: String, keyCol: String,
      maxLateness: String = "14 days"): DataFrame =
    events
      .withWatermark(tsCol, maxLateness)
      .groupBy(
        window(col(tsCol), "7 days", "7 days", "3 days").as("__week"),
        col(keyCol).as("key"))
      .agg(count(lit(1)).as("freq"))
      .select(to_date(col("__week.start")).as("week_start"), col("key"), col("freq"))

  /** Per-key running state: count + last-seen timestamp, kept across
    * micro-batches via mapGroupsWithState — the KeyValueGroupedDataset
    * custom-state surface. (No processing-time timeout: registered
    * timeouts make Spark schedule data-less batches forever, which breaks
    * `processAllAvailable`-style draining; evict idle state with a
    * watermark-based variant instead if retention matters.) */
  case class KeyState(key: String, count: Long, lastTs: Long)
  case class KeyUpdate(key: String, count: Long)

  def runningCounts(events: Dataset[(String, Long)]): Dataset[KeyUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyState, KeyUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, 0L))
          var n = prev.count
          var maxTs = prev.lastTs
          rows.foreach { case (_, ts) => n += 1; if (ts > maxTs) maxTs = ts }
          state.update(KeyState(key, n, maxTs))
          KeyUpdate(key, n)
      }
  }

  /** Wire a weekly-count stream to an in-flight aggregation sink in
    * update mode; the caller controls trigger + termination. */
  def startWeeklyQuery(events: DataFrame, tsCol: String, keyCol: String,
      queryName: String) =
    weeklyCounts(events, tsCol, keyCol)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(queryName).start()

  /** Production sink shape: foreachBatch appends each micro-batch's
    * UPDATED (week, key) aggregates to parquet, stamped with the batch id;
    * [[latestWeekly]] reads back the last value per cell. Appends are
    * idempotent under retries because a replayed batch rewrites the same
    * batch id and the reader keeps one row per (key, week) by max batch.
    * (With a transactional table format this becomes a MERGE; plain
    * parquet is what this container has.) */
  def startWeeklyParquetQuery(events: DataFrame, tsCol: String, keyCol: String,
      targetDir: String, checkpointDir: String) =
    weeklyCounts(events, tsCol, keyCol)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(targetDir)
      }
      .start()

  /** The one partial-table sink behind every mergeable-partials face
    * below: each micro-batch maps through every `(dir, partial)` pair,
    * and each partial table is stamped with the batch id and APPENDED
    * to its dir as parquet. foreachBatch is AT-LEAST-ONCE: a crash
    * between an append and the offset commit replays the batch on
    * restart, appending identical rows (the partials are deterministic)
    * under the SAME batch_id — [[partials]] collapses them. */
  private def appendPartials(events: DataFrame, checkpointDir: String,
      tables: (String, DataFrame => DataFrame)*): StreamingQuery =
    events
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF()
        tables.foreach { case (dir, partial) =>
          partial(b).withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(dir)
        }
      }
      .start()

  /** The one replay-guarded reader of an [[appendPartials]] table: one
    * row per (keys…, batch_id), so a replayed batch counts once while
    * distinct batches that happen to produce equal partials survive
    * (their batch_ids differ); then batch_id is dropped. `keys` are the
    * table's key columns — empty when a batch stores a single row. */
  private def partials(spark: SparkSession, dir: String,
      keys: String*): DataFrame =
    spark.read.parquet(dir).dropDuplicates(keys :+ "batch_id")
      .drop("batch_id")

  /** Streaming distinct-count maintenance via mergeable HLL sketches —
    * the ingestion-time face of [[graft.operators.Sketches]]: each
    * micro-batch reduces to one sketch per group and APPENDS it to
    * parquet (sketches are bytes; the raw keys never accumulate
    * anywhere), and [[mergedDistinct]] folds all stored partials with
    * `hll_union_agg` at read time. Because sketch union is associative
    * and commutative, batch boundaries, retries, and arrival order
    * cannot change the merged estimate — the streaming answer equals the
    * batch sketch of the union (SketchesSpec proves that equality; the
    * streaming spec proves it across micro-batches). */
  def startDistinctSketchQuery(events: DataFrame, groupCol: String,
      valueCol: String, targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Sketches
        .distinctSketch(b, Seq(col(groupCol)), col(valueCol))))

  /** Merge all per-batch sketches stored by [[startDistinctSketchQuery]]
    * into one distinct-count estimate per group. */
  def mergedDistinct(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Sketches
      .mergeSketches(spark.read.parquet(targetDir), Seq(col(groupCol)),
        col("sketch"))
      .select(col(groupCol),
        graft.operators.Sketches.estimate(col("sketch")).as("n_distinct"))

  /** Streaming incremental-rollup maintenance — the ingestion face of
    * [[graft.operators.Stats.momentPartials]]: each micro-batch reduces
    * ONCE to exact BIGINT moment partials appended to the summary table;
    * any later reader answers mean/stddev/corr questions over the whole
    * stream by merging the partial rows ([[mergedMoments]]) — history is
    * never rescanned, and because the partials are exact integers the
    * merged answer is bit-identical to a batch recompute over all data
    * (StreamingSpec pins it). */
  def startMomentPartialsQuery(events: DataFrame, groupCol: String,
      xCol: String, yCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Stats
        .momentPartials(b, Seq(col(groupCol)), col(xCol), col(yCol))))

  /** Finalized whole-stream statistics from the partial rows stored by
    * [[startMomentPartialsQuery]].
    *
    * Unlike the HLL sink (union is idempotent) a SUM would double-count
    * a replayed batch, so the reader keeps one row per (group, batch_id)
    * before merging — replays collapse, while distinct batches that
    * happen to produce equal partials survive (their batch_ids differ). */
  def mergedMoments(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.momentsFromPartials(
      mergedPartials(spark, targetDir, groupCol))

  /** Whole-stream per-group OLS trend from the SAME stored partials —
    * [[graft.operators.Stats.olsFromPartials]] over the replay-guarded
    * merge, bit-identical to a batch [[graft.operators.Stats.groupOls]]
    * over all data. One summary table answers both the moment questions
    * and the trend questions; no re-ingestion, ever. */
  def mergedOls(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.olsFromPartials(
      mergedPartials(spark, targetDir, groupCol))

  private def mergedPartials(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeMomentPartials(
      Seq(partials(spark, targetDir, groupCol)), Seq(groupCol))

  /** Streaming covariance maintenance — the ingestion face of
    * [[graft.operators.Pca.covariance]]: each micro-batch reduces to ONE
    * (n, sums, co-moment sums) row (d(d+3)/2 doubles) appended to the
    * summary table; a PCA/whitening/outlier model refit reads the merged
    * summary, never the history. Double sums are deterministic PER BATCH
    * (a batch's partials always merge to the same values) so the
    * batch_id replay guard applies, but cross-batch merge order is
    * float-order-dependent in the last bits — the readout matches a
    * one-shot batch fit to ~1e-12 relative, not bit-for-bit (the
    * documented [[graft.operators.Pca]] contract, unlike the exact
    * integer moment sinks above). */
  def startCovarianceQuery(events: DataFrame, vecCol: String, dim: Int,
      targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Pca.covariancePartials(b, col(vecCol), dim)))

  /** Whole-stream covariance model from the partials stored by
    * [[startCovarianceQuery]] — replay-guarded on batch_id, then the
    * same finalization as the batch operator. */
  def mergedCovariance(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, dim: Int): graft.operators.Pca.CovarianceModel =
    graft.operators.Pca.covarianceFromPartials(
      partials(spark, targetDir), dim)

  /** Streaming Count-Min maintenance — the ingestion face of
    * [[graft.operators.Sketches.countMinSketch]]: each micro-batch
    * reduces to ≤ depth × width counter rows appended to the summary
    * table; the key universe never accumulates anywhere. Counter
    * addition is associative/commutative but NOT idempotent, so
    * [[mergedCms]] applies the (row, bucket, batch_id) replay guard
    * before summing — the moment-sink posture, not the KMV one. */
  def startCmsQuery(events: DataFrame, keyCol: String, targetDir: String,
      checkpointDir: String, depth: Int = 4, width: Int = 1024) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Sketches
        .countMinSketch(b, col(keyCol), depth, width).counters))

  /** Whole-stream CMS from the per-batch counters stored by
    * [[startCmsQuery]] — replay-guarded counter-wise addition, returned
    * as a bound [[graft.operators.Sketches.CmsSketch]] so estimates
    * reuse the build's own (depth, width). Equals the batch sketch of
    * the union (StreamingSpec pins the equality, replay included). */
  def mergedCms(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, depth: Int = 4,
      width: Int = 1024): graft.operators.Sketches.CmsSketch =
    graft.operators.Sketches.CmsSketch(
      partials(spark, targetDir, "row", "bucket")
        .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt")),
      depth, width)

  /** Streaming Welch maintenance — the ingestion face of
    * [[graft.operators.Stats.welchPartials]]: each micro-batch reduces
    * once to its per-cohort BIGINT conditional moments (6 integers per
    * group) appended to the summary table. `cohortExpr` is a SQL boolean
    * expression over the batch columns naming cohort 1. Same at-least-
    * once posture as the moment sink: partials are deterministic, so a
    * replayed batch appends an identical row under the same batch_id and
    * the reader's (group, batch_id) dedup collapses it. */
  def startWelchPartialsQuery(events: DataFrame, groupCol: String,
      xCol: String, cohortExpr: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Stats.welchPartials(b, Seq(col(groupCol)),
        col(xCol), expr(cohortExpr))))

  /** Whole-stream Welch's t from the partials stored by
    * [[startWelchPartialsQuery]] — replay-guarded merge, then the SAME
    * fixed float tail as the batch operator, so the streaming answer is
    * bit-identical to [[graft.operators.Stats.welchT]] over all data
    * (StreamingSpec pins the equality). */
  def mergedWelch(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.welchFromPartials(
      graft.operators.Stats.mergeWelchPartials(
        Seq(partials(spark, targetDir, groupCol)), Seq(groupCol)))

  /** Streaming quantile maintenance — the ingestion face of
    * [[graft.operators.Sketches.quantileSketch]]: each micro-batch
    * reduces to at most `groups × 900 × decades` bucket-counter rows
    * appended to the summary table; raw values never accumulate
    * anywhere. Bucket-counter addition is associative and commutative,
    * so batch boundaries and arrival order cannot change the merged
    * histogram — but unlike HLL union it is NOT idempotent, so
    * [[mergedQuantiles]] applies the same replay guard as the moment
    * sink: one row per (group, bucket, batch_id) before summing. */
  def startQuantileSketchQuery(events: DataFrame, groupCol: String,
      valueCol: String, targetDir: String, checkpointDir: String,
      scale: Int = 2) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Sketches.quantileSketch(b, Seq(col(groupCol)),
        col(valueCol), scale).buckets))

  /** Whole-stream quantile estimates from the bucket partials stored by
    * [[startQuantileSketchQuery]] — per-bucket addition across batches,
    * then the sketch's cumulative-count readout. Equals the batch sketch
    * of the union (StreamingSpec pins the equality). */
  def mergedQuantiles(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, qs: Seq[Double],
      scale: Int = 2): DataFrame = {
    val merged = partials(spark, targetDir, groupCol, "bucket")
      .groupBy(col(groupCol), col("bucket"), col("lb"))
      .agg(sum(col("cnt")).as("cnt"))
    graft.operators.Sketches.QuantileSketch(merged, scale, Seq(groupCol))
      .quantiles(qs)
  }

  /** Streaming seasonal-decomposition maintenance — the ingestion face
    * of [[TimeSeries.decompose]]/[[TimeSeries.anomalies]]. A row's
    * detrended numerator needs the ±h neighboring WEEKS' final counts
    * and its season position needs the row index from the series start,
    * so per-batch seasonal partials are mathematically impossible (a
    * batch cannot know windows that straddle its boundary). The correct
    * mergeable granularity one level down IS exact: each micro-batch
    * reduces to its per-(key, week) BIGINT count deltas — associative,
    * replay-guarded by batch_id — and [[mergedSeasonal]] merges them
    * into the identical weekly table a batch scan would produce, then
    * runs the SAME deterministic decompose finalization over that
    * summary. The summary is bounded by keys × weeks (the raw stream
    * never accumulates), the finalization cost is independent of stream
    * length, and because the merged counts are exactly equal the
    * decomposition is bit-for-bit the one-shot batch answer
    * (StreamingSpec pins it, replay included). */
  def startSeasonalPartialsQuery(events: DataFrame, tsCol: String,
      keyCol: String, targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      TimeSeries.weeklyFrequency(b, to_date(col(tsCol)), col(keyCol))))

  /** The merged dense weekly table behind [[mergedSeasonal]] /
    * [[mergedAnomalies]] — replay-guarded exact counts, densified with
    * the batch [[TimeSeries.denseWeekly]]. */
  def mergedWeeklyTable(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    TimeSeries.denseWeekly(mergedSparseWeekly(spark, targetDir))
      .select("key", "week_start", "freq")

  /** Whole-stream seasonal decomposition from the weekly partials stored
    * by [[startSeasonalPartialsQuery]] — bit-identical to a one-shot
    * [[TimeSeries.decompose]] over all events. */
  def mergedSeasonal(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, period: Int): DataFrame =
    TimeSeries.decompose(mergedWeeklyTable(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), period)

  /** Whole-stream seasonal-aware anomaly flags from the same stored
    * partials — bit-identical to the one-shot [[TimeSeries.anomalies]]. */
  def mergedAnomalies(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, period: Int, k: Double = 3.0): DataFrame =
    TimeSeries.anomalies(mergedWeeklyTable(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), period, k)

  /** Whole-stream autocorrelation from the SAME stored weekly partials
    * — [[TimeSeries.acf]] over the replay-guarded merged counts,
    * bit-identical to the one-shot batch ACF (the scaled BIGINT
    * moments are a deterministic function of the weekly table, and
    * the merged weekly table is exactly equal). The live periodicity
    * dashboard rides the summary the decompose/anomaly/changepoint
    * faces already maintain — no new state. */
  def mergedAcf(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, maxLag: Int): DataFrame =
    TimeSeries.acf(mergedSparseWeekly(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), maxLag)

  /** Whole-stream EWMA / Holt / Holt–Winters smoothing from the SAME
    * stored weekly partials — the full forecasting ladder (level only /
    * level+trend / level+trend+season) served from the one summary
    * table, each bit-identical to its one-shot batch twin (the folds
    * are deterministic in the weekly table, and the merged weekly
    * table is exactly equal). Sparse weekly counts, like the batch
    * c_ewma_level / c_holt_forecast / c_holt_winters faces. */
  def mergedEwma(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, alpha: Double): DataFrame =
    TimeSeries.ewma(mergedSparseWeekly(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), alpha)

  /** See [[mergedEwma]]. */
  def mergedHolt(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, alpha: Double, gamma: Double,
      horizon: Int = 1): DataFrame =
    TimeSeries.holt(mergedSparseWeekly(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), alpha, gamma, horizon)

  /** See [[mergedEwma]]. */
  def mergedHoltWinters(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, period: Int, horizon: Int = 1): DataFrame =
    TimeSeries.holtWinters(mergedSparseWeekly(spark, targetDir),
      Seq("key"), col("week_start"), col("freq"), period,
      horizon = horizon)

  /** The replay-guarded SPARSE merged weekly table (no zero-fill —
    * the smoothing recursions consume observed weeks only, like their
    * batch faces). */
  private def mergedSparseWeekly(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    partials(spark, targetDir, "key", "week_start")
      .groupBy("key", "week_start").agg(sum(col("freq")).as("freq"))

  /** Whole-stream level-shift changepoints from the SAME stored weekly
    * partials — [[TimeSeries.changepoints]] over the replay-guarded
    * merged counts, bit-identical to the one-shot batch segmentation
    * (the segmentation is deterministic in the weekly table, and the
    * merged weekly table is exactly equal). One summary table now
    * answers decomposition, anomaly AND changepoint questions without
    * re-ingesting anything. */
  def mergedChangepoints(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, maxChanges: Int, minSegment: Int = 2,
      minGain: Double = 0.0): DataFrame =
    TimeSeries.changepoints(mergedWeeklyTable(spark, targetDir),
      Seq("key"), col("week_start"), col("freq"), maxChanges, minSegment,
      minGain)

  /** Whole-stream CUSUM drift alarms from the same stored weekly
    * partials — [[TimeSeries.cusum]] over the replay-guarded merged
    * DENSE weekly table (zero-filled gaps count as data: a week with no
    * events is evidence the level did NOT drift up), bit-identical to
    * the batch operator on the same dense series. */
  def mergedCusum(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, slack: Long, threshold: Long): DataFrame =
    TimeSeries.cusum(mergedWeeklyTable(spark, targetDir), Seq("key"),
      col("week_start"), col("freq"), slack, threshold)

  /** Streaming top-k maintenance — the ingestion face of
    * [[graft.operators.Ranks.topKPerGroup]]: each micro-batch reduces to
    * at most k (ord, tie) rows per group (16 bytes each) appended to the
    * summary table; the raw stream never accumulates. The merged readout
    * re-top-ks with `distinctTies = true`: ties are unique row ids, so
    * identical (ord, tie) pairs can only come from an at-least-once
    * replay of the same batch — the distinct-merge IS the replay guard,
    * collapsing them into one slot; the reader ignores the batch id. */
  def startTopKQuery(events: DataFrame, groupCol: String, ordCol: String,
      tieCol: String, k: Int, targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Ranks
        .topKPerGroup(b, Seq(groupCol), col(ordCol), col(tieCol), k,
          ordName = "ord", tieName = "tie")
        .select(col(groupCol), col("ord"), col("tie"))))

  /** Whole-stream top-k from the per-batch candidates stored by
    * [[startTopKQuery]]. Equals the batch [[graft.operators.Ranks
    * .topKPerGroup]] of the union (StreamingSpec pins the equality):
    * a group's true top-k over the whole stream survives in the union
    * of per-batch top-ks because membership in the whole-stream top-k
    * implies membership in the owning batch's top-k. */
  def mergedTopK(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, k: Int,
      rankCol: String = "rank", ordName: String = "ord",
      tieName: String = "tie"): DataFrame =
    graft.operators.Ranks.topKPerGroup(
      spark.read.parquet(targetDir).drop("batch_id"), Seq(groupCol),
      col("ord"), col("tie"), k, rankCol, ordName, tieName,
      distinctTies = true)

  /** Streaming distinct-count maintenance via KMV — like
    * [[startDistinctSketchQuery]] but with the ENGINE-PORTABLE sketch:
    * ≤ k hash rows per group per batch, merged by
    * [[graft.operators.Sketches.kmvFromMins]] (distinct re-min), which
    * makes at-least-once replays idempotent without a batch-id guard —
    * a replayed batch contributes hashes that are already present. */
  def startKmvSketchQuery(events: DataFrame, groupCol: String,
      valueCol: String, targetDir: String, checkpointDir: String,
      k: Int = 64) =
    appendPartials(events, checkpointDir, (targetDir, b =>
      graft.operators.Sketches.kmvSketch(b, Seq(groupCol), col(valueCol), k)
        .mins))

  /** Whole-stream distinct estimates from the min tables stored by
    * [[startKmvSketchQuery]] — equals the batch sketch of the union. */
  def mergedKmvDistinct(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, k: Int = 64): DataFrame =
    graft.operators.Sketches
      .kmvFromMins(spark.read.parquet(targetDir).drop("batch_id"), k)
      .estimate

  /** Streaming drift-metric maintenance — the ingestion face of the
    * WHOLE drift toolkit ([[graft.operators.Stats]]: PSI, JS, KS,
    * Mann–Whitney U): each micro-batch reduces ONCE to its exact
    * per-(group, bin) and per-(group, distinct value) cohort-count
    * deltas, appended with the batch_id replay guard. Because the
    * partials are associative BIGINTs, the merged tables are EXACTLY
    * what a batch scan of the whole stream would count, so every
    * readout — [[mergedPsi]], [[mergedJs]], [[mergedKs]],
    * [[mergedMannWhitney]] — is bit-identical to its batch twin
    * (StreamingSpec pins all four). Bin state is groups × (edges+1)
    * rows; value state is bounded by distinct x per group (quantize an
    * unbounded x first — the operator doc's contract). `cohortExpr` is
    * a SQL boolean naming cohort 1. */
  def startDriftCountsQuery(events: DataFrame, groupCol: String,
      xCol: String, cohortExpr: String, edges: Seq[Double],
      targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir,
      (s"$targetDir/bins", b => graft.operators.Stats.binCounts(b,
        Seq(col(groupCol)), col(xCol), expr(cohortExpr), edges)),
      (s"$targetDir/values", b => graft.operators.Stats.valueCounts(b,
        Seq(col(groupCol)), col(xCol), expr(cohortExpr))))

  private def mergedBins(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeBinCounts(
      Seq(partials(spark, s"$targetDir/bins", groupCol, "__bin")),
      Seq(groupCol))

  private def mergedValues(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeValueCounts(
      Seq(partials(spark, s"$targetDir/values", groupCol, "__x")),
      Seq(groupCol))

  /** Whole-stream PSI from the stored bin partials — bit-identical to
    * the batch [[graft.operators.Stats.psi]] over all data. */
  def mergedPsi(spark: org.apache.spark.sql.SparkSession, targetDir: String,
      groupCol: String, eps: Double = 1e-6): DataFrame =
    graft.operators.Stats.psiFromBinCounts(
      mergedBins(spark, targetDir, groupCol), eps)

  /** Whole-stream Jensen–Shannon divergence from the same partials. */
  def mergedJs(spark: org.apache.spark.sql.SparkSession, targetDir: String,
      groupCol: String): DataFrame =
    graft.operators.Stats.jsFromBinCounts(
      mergedBins(spark, targetDir, groupCol))

  /** Whole-stream KS statistic from the stored value partials. */
  def mergedKs(spark: org.apache.spark.sql.SparkSession, targetDir: String,
      groupCol: String): DataFrame =
    graft.operators.Stats.ksFromValueCounts(
      mergedValues(spark, targetDir, groupCol))

  /** Whole-stream Mann–Whitney U from the same value partials. */
  def mergedMannWhitney(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mannWhitneyFromValueCounts(
      mergedValues(spark, targetDir, groupCol))

  /** Streaming k-sample maintenance — the ingestion face of
    * [[graft.operators.Stats.kruskalWallis]]: each micro-batch reduces
    * to its exact per-(group, level, x) count deltas
    * ([[graft.operators.Stats.levelValueCounts]], batch_id replay
    * guard); the merged cells finalize to H/H_adj bit-identical to the
    * one-shot batch test. State is the distinct (level, x) grid per
    * group, never event history. */
  def startLevelCountsQuery(events: DataFrame, groupCol: String,
      levelCol: String, xCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/level_values", b =>
      graft.operators.Stats.levelValueCounts(b, Seq(col(groupCol)),
        col(levelCol), col(xCol))))

  private def mergedLevelValues(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeLevelValueCounts(
      Seq(partials(spark, s"$targetDir/level_values", groupCol, "__l",
        "__x")),
      Seq(groupCol))

  /** Whole-stream Kruskal–Wallis from the stored level-count partials
    * — bit-identical to the batch test over all data. */
  def mergedKruskalWallis(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.kruskalWallisFromLevelCounts(
      mergedLevelValues(spark, targetDir, groupCol))

  /** Whole-stream Jonckheere–Terpstra ordered-trend test from the SAME
    * stored level-count partials as [[mergedKruskalWallis]] — a third
    * readout of one state table, bit-identical to the batch test. */
  def mergedJonckheere(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.jonckheereFromLevelCounts(
      mergedLevelValues(spark, targetDir, groupCol))

  /** Streaming survival maintenance — the ingestion face of
    * [[graft.operators.Stats.kaplanMeier]]: each micro-batch of CLOSED
    * subject observations (duration, event — immutable facts; an open
    * subject must not be emitted because its duration/churn status
    * would mutate) reduces to exact per-(group, t) BIGINT
    * events/censored deltas with the batch_id replay guard. Counts are
    * associative, so the merged grid finalizes to a survival curve
    * bit-identical to the one-shot batch estimator; state is the
    * distinct-time grid, never subject history. */
  def startSurvivalCountsQuery(subjects: DataFrame, groupCol: String,
      durationCol: String, eventCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(subjects, checkpointDir,
      (s"$targetDir/survival_counts", b => graft.operators.Stats
        .survivalCounts(b, Seq(groupCol), col(durationCol), col(eventCol))))

  /** The replay-guarded merged survival_counts table behind the KM, NA
    * and conditional-survival readouts. */
  private def mergedSurvival(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeSurvivalCounts(
      Seq(partials(spark, s"$targetDir/survival_counts", groupCol, "t")),
      Seq(groupCol))

  /** Whole-stream Kaplan–Meier from the stored count deltas —
    * bit-identical to the batch estimator over all closed subjects. */
  def mergedKaplanMeier(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.kaplanMeierFromCounts(
      mergedSurvival(spark, targetDir, groupCol), Seq(groupCol))

  /** Streaming log-rank maintenance — the two-cohort companion of
    * [[startSurvivalCountsQuery]]: per-batch exact per-(group, t)
    * cohort-split events/censored deltas over CLOSED subjects
    * (batch_id replay guard); the merged grid finalizes to a log-rank
    * test bit-identical to batch. */
  def startCohortSurvivalCountsQuery(subjects: DataFrame,
      groupCol: String, durationCol: String, eventCol: String,
      cohortCol: String, targetDir: String, checkpointDir: String) =
    appendPartials(subjects, checkpointDir,
      (s"$targetDir/cohort_surv_counts", b => graft.operators.Stats
        .cohortSurvivalCounts(b, Seq(groupCol), col(durationCol),
          col(eventCol), col(cohortCol))))

  /** The replay-guarded merged cohort_surv_counts table behind the
    * log-rank family; `groupCol` is the stratum for the stratified
    * readout. */
  private def mergedCohortSurvival(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeCohortSurvivalCounts(
      Seq(partials(spark, s"$targetDir/cohort_surv_counts", groupCol, "t")),
      Seq(groupCol))

  /** Whole-stream log-rank from the stored cohort-split deltas —
    * bit-identical to the batch test over all closed subjects. */
  def mergedLogRank(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.logRankFromCounts(
      mergedCohortSurvival(spark, targetDir, groupCol), Seq(groupCol))

  /** Whole-stream Nelson–Aalen cumulative hazard — a SECOND readout
    * over the SAME stored deltas [[startSurvivalCountsQuery]]
    * maintains for Kaplan–Meier: no new state, no new query, just the
    * hazard-side finalize. Bit-identical to batch. */
  def mergedNelsonAalen(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.nelsonAalenFromCounts(
      mergedSurvival(spark, targetDir, groupCol), Seq(groupCol))

  /** Whole-stream Gehan–Breslow weighted log-rank — a SECOND readout
    * over the SAME stored cohort-split deltas
    * [[startCohortSurvivalCountsQuery]] maintains for the plain
    * log-rank. Bit-identical to batch. */
  def mergedGehanLogRank(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.gehanLogRankFromCounts(
      mergedCohortSurvival(spark, targetDir, groupCol), Seq(groupCol))

  /** Streaming attribution maintenance (set face) — the ingestion face
    * of [[graft.operators.Attribution.shapley]]: each micro-batch of
    * CLOSED users' touch events reduces to conversions-per-touched-set
    * deltas (≤ 2ᵏ rows, batch_id replay guard). Same closed-subject
    * contract as the survival face: an open user's mask and conversion
    * label would mutate, so only closed users are facts. */
  def startMaskCountsQuery(events: DataFrame, userCol: String,
      channelCol: String, convertedCol: String, channels: Seq[String],
      targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/mask_counts", b =>
      graft.operators.Attribution.maskConversionCounts(b, col(userCol),
        col(channelCol), col(convertedCol), channels)))

  /** Whole-stream Shapley attribution from the stored mask deltas —
    * bit-identical to the batch operator over all closed users. */
  def mergedShapley(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, channels: Seq[String]): DataFrame =
    graft.operators.Attribution.shapleyFromMaskCounts(
      graft.operators.Attribution.mergeMaskCounts(
        Seq(partials(spark, s"$targetDir/mask_counts", "mask"))),
      channels)

  /** Streaming position/time-decay attribution maintenance — the
    * ingestion face of [[graft.operators.Attribution
    * .positionAttribution]]: each micro-batch of CLOSED users' touch
    * events reduces to per-channel exact BIGINT credit deltas (≤ k
    * rows, batch_id replay guard); credits are associative, so the
    * merged table finalizes to the four baselines bit-identical to
    * batch. */
  def startPositionCreditsQuery(events: DataFrame, userCol: String,
      channelCol: String, tsCol: String, tieCol: String,
      convertedCol: String, channels: Seq[String],
      halfLifeDays: Double, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir,
      (s"$targetDir/position_credits", b => graft.operators.Attribution
        .positionCreditCounts(b, col(userCol), col(channelCol), col(tsCol),
          col(tieCol), col(convertedCol), channels, halfLifeDays)))

  /** Whole-stream position/time-decay attribution from the stored
    * credit deltas — bit-identical to the batch operator. */
  def mergedPositionAttribution(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, channels: Seq[String]): DataFrame =
    graft.operators.Attribution.positionFromCredits(
      graft.operators.Attribution.mergePositionCredits(
        Seq(partials(spark, s"$targetDir/position_credits", "channel"))),
      channels)

  /** Streaming competing-risks maintenance — the ingestion face of
    * [[graft.operators.Stats.aalenJohansen]]: each micro-batch of
    * CLOSED subjects (same contract as survival: an open subject's
    * duration/cause would mutate) reduces to per-(group, t) exact
    * cause-count deltas (a BIGINT per cause + censored; batch_id
    * replay guard); element-wise re-sum finalizes to cumulative
    * incidence bit-identical to batch. */
  def startCauseSurvivalCountsQuery(subjects: DataFrame,
      groupCol: String, durationCol: String, causeCol: String,
      nCauses: Int, targetDir: String, checkpointDir: String) =
    appendPartials(subjects, checkpointDir,
      (s"$targetDir/cause_surv_counts", b => graft.operators.Stats
        .causeSurvivalCounts(b, Seq(groupCol), col(durationCol),
          col(causeCol), nCauses)))

  /** Whole-stream STRATIFIED log-rank from the same stored
    * cohort-split deltas the plain log-rank maintains, read with the
    * group key as the STRATUM — no new state, no new query, the
    * survival-side CMH finalize. */
  def mergedStratifiedLogRank(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, stratumCol: String,
      maxTimes: Int = 1000): DataFrame =
    graft.operators.Stats.stratifiedLogRankFromCounts(
      mergedCohortSurvival(spark, targetDir, stratumCol),
      Nil, stratumCol, maxTimes)

  /** Whole-stream Aalen–Johansen cumulative incidence from the stored
    * cause-count deltas — bit-identical to batch. */
  def mergedAalenJohansen(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, nCauses: Int): DataFrame =
    graft.operators.Stats.aalenJohansenFromCounts(
      graft.operators.Stats.mergeCauseSurvivalCounts(
        Seq(partials(spark, s"$targetDir/cause_surv_counts", groupCol,
          "t")),
        Seq(groupCol), nCauses),
      Seq(groupCol), nCauses)

  /** Streaming rating-counts maintenance — the ingestion face of
    * [[graft.operators.Stats.fleissKappa]]: each micro-batch of
    * individual ratings reduces to per-(group, item, category) exact
    * BIGINT deltas (batch_id replay guard). No closed-item contract —
    * an item's ratings may straddle batches, because cell counts
    * re-sum exactly and the constant-panel check runs at readout. */
  def startRatingCountsQuery(ratings: DataFrame, groupCol: String,
      itemCol: String, categoryCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(ratings, checkpointDir, (s"$targetDir/rating_counts", b =>
      graft.operators.Stats.ratingCounts(b, Seq(groupCol), col(itemCol),
        col(categoryCol))))

  /** Whole-stream Fleiss' κ from the stored rating-count deltas —
    * bit-identical to batch. */
  def mergedFleissKappa(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.fleissKappaFromCounts(
      graft.operators.Stats.mergeRatingCounts(
        Seq(partials(spark, s"$targetDir/rating_counts", groupCol, "item",
          "category")),
        Seq(groupCol)),
      Seq(groupCol))

  /** Streaming experiment-counts maintenance — the ingestion face of
    * [[graft.operators.Stats.proportionUplift]] AND [[graft.operators
    * .Stats.msprt]]: each micro-batch of independent trials reduces to
    * per-group exact (n_t, x_t, n_c, x_c) deltas (batch_id replay
    * guard); BOTH readouts finalize from the one merged table — and
    * mSPRT's validity under continuous monitoring is precisely what
    * makes a live always-refreshing readout of this state sound. */
  def startArmCountsQuery(events: DataFrame, groupCol: String,
      treatedCol: String, outcomeCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/arm_counts", b =>
      graft.operators.Stats.armCounts(b, Seq(col(groupCol)),
        col(treatedCol), col(outcomeCol))))

  /** The replay-guarded merged arm_counts table behind the uplift, CMH
    * (`groupCol` is then the stratum) and mSPRT readouts. */
  private def mergedArms(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeArmCounts(
      Seq(partials(spark, s"$targetDir/arm_counts", groupCol)),
      Seq(groupCol))

  /** Whole-stream two-proportion uplift from the stored count deltas —
    * bit-identical to batch. */
  def mergedProportionUplift(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.proportionUpliftFromCounts(
      mergedArms(spark, targetDir, groupCol))

  /** Whole-stream CMH stratified test from the SAME stored deltas,
    * read with the group key as the STRATUM — no new state, no new
    * query, just the confounder-adjusted finalize (χ² + pooled
    * Mantel–Haenszel odds ratio across the stored strata). */
  def mergedCmh(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, stratumCol: String,
      maxStrata: Int = 1000): DataFrame =
    graft.operators.Stats.cmhFromCounts(
      mergedArms(spark, targetDir, stratumCol), Nil, stratumCol, maxStrata)

  /** Whole-stream always-valid p-value from the SAME stored deltas —
    * the peeking-proof live dashboard readout. */
  def mergedMsprt(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, tauSq: Double = 1e-4,
      alpha: Double = 0.05): DataFrame =
    graft.operators.Stats.msprtFromCounts(
      mergedArms(spark, targetDir, groupCol), tauSq, alpha)

  /** Streaming interim-analysis maintenance — the ingestion face of
    * [[graft.operators.Stats.groupSequentialTest]]: arm-count deltas
    * keyed by (group, look). A look is part of the pre-registered
    * DESIGN, so it is an attribute of the arriving trial, and the
    * per-look counts are the same associative armCounts partial. */
  def startArmCountsByLookQuery(events: DataFrame, groupCol: String,
      lookCol: String, treatedCol: String, outcomeCol: String,
      targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir,
      (s"$targetDir/arm_counts_by_look", b => graft.operators.Stats
        .armCounts(b, Seq(col(groupCol), col(lookCol).cast("int").as("look")),
          col(treatedCol), col(outcomeCol))))

  /** Whole-stream group-sequential boundary readout from the stored
    * per-look deltas — bit-identical to the batch test. The interim
    * dashboard re-reads count deltas, never trial history; rejection
    * at look k is only DECLARED when look k's data is complete (the
    * design contract — the boundary math itself is stateless). */
  def mergedGroupSequential(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, looks: Int,
      kind: String = "obf"): DataFrame =
    graft.operators.Stats.groupSequentialFromCounts(
      graft.operators.Stats.mergeArmCounts(
        Seq(partials(spark, s"$targetDir/arm_counts_by_look", groupCol,
          "look")),
        Seq(groupCol, "look")),
      Seq(groupCol), looks, kind)

  /** Streaming survival-calibration maintenance — the ingestion face
    * of [[graft.operators.Concordance.survivalCalibrationFromCounts]]:
    * closed subjects reduce per batch to exact per-(group, bin, t)
    * (events, censored, quantized-prediction-sum) deltas under
    * CALLER-FROZEN bin edges (the frozen-model discipline — NTILE
    * deciles cannot accumulate; a monitoring pipeline pre-registers
    * its edges). batch_id replay guard as everywhere. */
  def startCalibrationCountsQuery(events: DataFrame, groupCol: String,
      durationCol: String, eventCol: String, predCol: String,
      edges: Seq[Double], targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir,
      (s"$targetDir/calibration_counts", b => graft.operators.Concordance
        .calibrationCounts(b, Seq(groupCol), col(durationCol),
          col(eventCol), col(predCol), edges)))

  /** Whole-stream calibration table from the stored deltas —
    * bit-identical to the batch frozen-edges face over all data. */
  def mergedSurvivalCalibration(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String, horizon: Double): DataFrame =
    graft.operators.Concordance.survivalCalibrationFromCounts(
      graft.operators.Concordance.mergeCalibrationCounts(
        Seq(partials(spark, s"$targetDir/calibration_counts", groupCol,
          "bin", "t")),
        Seq(groupCol)),
      Seq(groupCol), horizon)

  /** Whole-stream conditional survival from the SAME stored survival
    * deltas the KM/NA readouts maintain — another readout, no new
    * state. */
  def mergedConditionalSurvival(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String,
      pairs: Seq[(Double, Double)]): DataFrame =
    graft.operators.Concordance.conditionalSurvivalFromCounts(
      mergedSurvival(spark, targetDir, groupCol), Seq(groupCol), pairs)

  /** Streaming ratio-metric experiment maintenance — the ingestion
    * face of [[graft.operators.Stats.ratioUplift]]: each micro-batch
    * of CLOSED units' events reduces to per-(group, arm) exact BIGINT
    * moment deltas (batch_id replay guard); the six sums and the max
    * witness are associative, so the merged table finalizes to a
    * delta-method readout bit-identical to batch. The experiment
    * dashboard never rescans event history. */
  def startRatioMomentsQuery(events: DataFrame, groupCol: String,
      treatedCol: String, unitCol: String, numCol: String,
      denCol: String, quantScale: Double, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/ratio_moments", b =>
      graft.operators.Stats.ratioMoments(b, Seq(groupCol), col(treatedCol),
        col(unitCol), col(numCol), col(denCol), quantScale)))

  /** Whole-stream delta-method ratio uplift from the stored moment
    * deltas — bit-identical to the batch operator over closed units. */
  def mergedRatioUplift(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.ratioFromMoments(
      graft.operators.Stats.mergeRatioMoments(
        Seq(partials(spark, s"$targetDir/ratio_moments", groupCol, "arm")),
        Seq(groupCol)),
      Seq(groupCol))

  /** Streaming attribution maintenance (path face) — the ingestion
    * face of [[graft.operators.Attribution.markovRemoval]]: each
    * micro-batch of CLOSED users' touch events reduces to exact
    * (from, to) transition-count deltas (≤ (k+1)(k+2) rows, batch_id
    * replay guard); counts are associative, so the merged matrix
    * finalizes to removal effects bit-identical to batch. */
  def startTransitionCountsQuery(events: DataFrame, userCol: String,
      channelCol: String, tsCol: String, tieCol: String,
      convertedCol: String, channels: Seq[String], targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir,
      (s"$targetDir/transition_counts", b => graft.operators.Attribution
        .transitionCounts(b, col(userCol), col(channelCol), col(tsCol),
          col(tieCol), col(convertedCol), channels)))

  /** Whole-stream Markov removal effects from the stored transition
    * deltas — bit-identical to the batch operator. */
  def mergedMarkovRemoval(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, channels: Seq[String],
      iters: Int = 60): DataFrame =
    graft.operators.Attribution.markovFromCounts(
      graft.operators.Attribution.mergeTransitionCounts(
        Seq(partials(spark, s"$targetDir/transition_counts", "from", "to"))),
      channels, iters)

  /** Streaming record-linkage maintenance — the ingestion face of
    * [[graft.operators.Linkage.trainWeights]]: each micro-batch of
    * labeled pairs reduces to its per-field exact agreement-count
    * deltas ([[graft.operators.Linkage.agreementCounts]], batch_id
    * replay guard); the four counts are associative BIGINTs, so the
    * merged table finalizes to m/u/weights bit-identical to one-shot
    * batch training — the linkage model stays current as review labels
    * arrive, without rescanning pair history. State is |fields| rows
    * per batch. `fieldCols` maps field name → agreement column name in
    * the stream. */
  def startAgreementCountsQuery(pairs: DataFrame, matchCol: String,
      fieldCols: Seq[(String, String)], targetDir: String,
      checkpointDir: String) =
    appendPartials(pairs, checkpointDir, (s"$targetDir/agreements", b =>
      graft.operators.Linkage.agreementCounts(b, col(matchCol),
        fieldCols.map { case (n, c) => n -> col(c) })))

  /** Whole-stream linkage weights from the stored agreement partials —
    * bit-identical to batch [[graft.operators.Linkage.trainWeights]]. */
  def mergedLinkageWeights(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, smoothing: Int = 1): DataFrame =
    graft.operators.Linkage.weightsFromCounts(
      graft.operators.Linkage.mergeAgreementCounts(
        Seq(partials(spark, s"$targetDir/agreements", "field"))),
      smoothing)

  /** Streaming categorical-association maintenance — the ingestion face
    * of [[graft.operators.Stats.contingencyStats]]: each micro-batch
    * reduces once to its exact per-(group, a, b) cell-count deltas
    * ([[graft.operators.Stats.contingencyCells]], batch_id replay
    * guard). Cell counts are associative BIGINTs, so
    * [[mergedContingency]]'s re-sum + shared finalize is bit-identical
    * to the one-shot batch profile over all data — χ²/V/MI dashboards
    * (label × feature drift, langid × source skew) stay current at
    * ingestion without rescanning history. State is the distinct-cell
    * grid per group, not the event history. */
  def startContingencyCellsQuery(events: DataFrame, groupCol: String,
      aCol: String, bCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/cells", b =>
      graft.operators.Stats.contingencyCells(b, Seq(col(groupCol)),
        col(aCol), col(bCol))))

  /** Whole-stream χ²/Cramér's V/MI from the stored cell partials —
    * bit-identical to the batch
    * [[graft.operators.Stats.contingencyStats]] over all data. */
  def mergedContingency(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.contingencyFromCells(
      graft.operators.Stats.mergeContingencyCells(
        Seq(partials(spark, s"$targetDir/cells", groupCol, "__a", "__b")),
        Seq(groupCol)))

  /** Streaming cohort-retention maintenance — the ingestion face of
    * [[graft.operators.TimeSeries.retentionCohorts]]: each micro-batch
    * reduces to its DISTINCT (user, week) activity pairs before
    * anything is stored. A pair is an idempotent FACT — re-observing
    * it (later batch, at-least-once replay) changes nothing — so
    * [[mergedRetention]] ignores the batch id: one dropDuplicates over
    * the stored grid collapses both cross-batch repeats and replays,
    * and the shared readout is bit-identical to the one-shot batch
    * matrix. State is the user × week grid (one row per active-week,
    * never per event). */
  def startUserWeeksQuery(events: DataFrame, userCol: String,
      dateCol: String, targetDir: String, checkpointDir: String) =
    appendPartials(events, checkpointDir, (s"$targetDir/user_weeks", b =>
      b.filter(col(userCol).isNotNull && col(dateCol).isNotNull)
        .select(col(userCol).as("__u"),
          graft.operators.TimeSeries.weekStart(col(dateCol)).as("__w"))
        .distinct()))

  /** Whole-stream retention matrix from the stored activity grid —
    * bit-identical to the batch
    * [[graft.operators.TimeSeries.retentionCohorts]] over all data. */
  def mergedRetention(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    graft.operators.TimeSeries.retentionFromUserWeeks(
      spark.read.parquet(s"$targetDir/user_weeks").drop("batch_id")
        .dropDuplicates("__u", "__w"))

  /** WATERMARKED cohort-retention maintenance — the bounded-state
    * variant of [[startUserWeeksQuery]]. That face keeps the dedup
    * burden in the sink (the grid is an idempotent fact table and
    * every read re-deduplicates), which is exactly right for replay
    * safety but leaves the emitted grid unbounded by construction and
    * gives late data no policy at all. This face runs the dedup IN the
    * stream with true event-time semantics:
    *
    *  - each event reduces to its (user, week-start) fact, with the
    *    week start as the event-time column;
    *  - `withWatermark(week, horizonWeeks·7 days)` +
    *    `dropDuplicates(user, week)` make Spark hold ONE state row per
    *    in-horizon fact and EVICT a fact's row once the watermark
    *    passes `horizonWeeks` behind the newest observed week — state
    *    is bounded by (active users × horizon weeks), not stream
    *    length;
    *  - the documented LATE-DATA POLICY (SURVEY §2.9): an event for a
    *    week more than the horizon behind the newest seen week is
    *    DROPPED, not resurrected — a closed cohort window never
    *    changes retroactively. Within the horizon, late data lands
    *    exactly once (the state row still exists to dedup against).
    *
    * On data whose lateness never exceeds the horizon, the sink grid —
    * and hence [[mergedWatermarkedRetention]] — is bit-identical to
    * the batch [[graft.operators.TimeSeries.retentionCohorts]];
    * StreamingSpec pins that equality AND the state-store row bound. */
  def startWatermarkedUserWeeksQuery(events: DataFrame, userCol: String,
      dateCol: String, targetDir: String, checkpointDir: String,
      horizonWeeks: Int = 8) = {
    require(horizonWeeks >= 1 && horizonWeeks <= 520,
      s"horizonWeeks in 1..520, got $horizonWeeks")
    events
      .filter(col(userCol).isNotNull && col(dateCol).isNotNull)
      .select(col(userCol).as("__u"),
        graft.operators.TimeSeries.weekStart(col(dateCol))
          .cast("timestamp").as("__w"))
      .withWatermark("__w", s"${horizonWeeks * 7} days")
      .dropDuplicates("__u", "__w")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", s"$targetDir/user_weeks_wm")
      .start()
  }

  /** Retention matrix over the watermarked grid. The stream already
    * emitted each in-horizon fact exactly once; the defensive
    * dropDuplicates only covers file-sink leftovers from an unclean
    * restart (reading the directory raw bypasses the sink manifest). */
  def mergedWatermarkedRetention(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    graft.operators.TimeSeries.retentionFromUserWeeks(
      spark.read.parquet(s"$targetDir/user_weeks_wm")
        .select(col("__u"), col("__w").cast("date").as("__w"))
        .dropDuplicates("__u", "__w"))

  /** Streaming reference-LM maintenance — the ingestion face of
    * [[graft.operators.NgramLm]]: each micro-batch of reference
    * documents reduces once to its exact (w1, w2, count) bigram deltas
    * (batch_id replay guard). Because counts are associative BIGINTs
    * and the retention cap is a deterministic function of the merged
    * counts, [[mergedLmModel]]'s cap-after-merge model is bit-identical
    * to a batch [[graft.operators.NgramLm.bigramCounts]] over the whole
    * stream — so the CCNet filter's reference model stays current at
    * ingestion without ever rescanning the reference corpus
    * (StreamingSpec pins model equality across uneven batches and
    * replays; the scoring faces consume the model via the same
    * bigramCounts output schema). */
  def startLmCountsQuery(docs: DataFrame, textCol: String,
      targetDir: String, checkpointDir: String) =
    appendPartials(docs, checkpointDir, (targetDir, b =>
      graft.operators.NgramLm.bigramCountsRaw(b, col(textCol))))

  /** The capped whole-stream LM from the stored bigram deltas —
    * bit-identical to the batch-trained model. */
  def mergedLmModel(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, maxBigrams: Int = 250000): DataFrame =
    graft.operators.NgramLm.capBigrams(
      graft.operators.NgramLm.mergeBigramCounts(
        Seq(partials(spark, targetDir, "w1", "w2"))),
      maxBigrams)

  /** Streaming calibration maintenance — the ingestion face of
    * [[graft.operators.Stats.reliabilityTable]] /
    * [[graft.operators.Stats.calibrationError]]: each micro-batch
    * reduces to ≤ groups × bins rows of exact BIGINT partials (count,
    * positives, quantized score/squared-error mass) appended with the
    * batch_id replay guard (the moments-sink posture — partials are
    * deterministic per batch, sums would double-count). A model's
    * live calibration dashboard reads the merged summary, never the
    * score history. */
  def startCalibrationPartialsQuery(scored: DataFrame, groupCol: String,
      scoreCol: String, labelCol: String, targetDir: String,
      checkpointDir: String, nBins: Int = 10, quantScale: Double = 1e9) =
    appendPartials(scored, checkpointDir, (targetDir, b =>
      graft.operators.Stats.calibrationPartials(b, Seq(col(groupCol)),
        col(scoreCol), col(labelCol), nBins, quantScale)))

  /** Whole-stream reliability table from the stored partials —
    * replay-guarded merge, bit-identical to the one-shot batch table. */
  def mergedReliability(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String,
      quantScale: Double = 1e9): DataFrame =
    graft.operators.Stats.reliabilityFromPartials(
      mergedCalibrationPartials(spark, targetDir, groupCol), quantScale)

  /** Whole-stream Brier + ECE from the SAME stored partials. */
  def mergedCalibrationError(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String,
      quantScale: Double = 1e9): DataFrame =
    graft.operators.Stats.calibrationErrorFromPartials(
      mergedCalibrationPartials(spark, targetDir, groupCol),
      Seq(groupCol), quantScale)

  private def mergedCalibrationPartials(
      spark: org.apache.spark.sql.SparkSession, targetDir: String,
      groupCol: String): DataFrame =
    graft.operators.Stats.mergeCalibrationPartials(
      Seq(partials(spark, targetDir, groupCol, "bin")), Seq(groupCol))

  /** Streaming labeling-QA maintenance — the ingestion face of
    * [[graft.operators.Stats.classificationReport]] /
    * [[graft.operators.Stats.cohenKappa]]: each micro-batch reduces to
    * its (group, truth, pred) confusion counts (exact associative
    * BIGINTs) appended with the batch_id replay guard; per-class
    * P/R/F1 and κ finalize over the merged matrix, bit-identical to
    * the one-shot batch run. An annotation-quality dashboard never
    * rescans prediction history. */
  def startConfusionCountsQuery(preds: DataFrame, groupCol: String,
      truthCol: String, predCol: String, targetDir: String,
      checkpointDir: String) =
    appendPartials(preds, checkpointDir, (targetDir, b =>
      graft.operators.Stats.confusionCounts(b, Seq(col(groupCol)),
        col(truthCol), col(predCol))))

  /** Whole-stream per-class P/R/F1 from the stored confusion counts. */
  def mergedClassificationReport(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.classificationReportFromCounts(
      mergedConfusion(spark, targetDir, groupCol), Seq(groupCol))

  /** Whole-stream Cohen's κ from the SAME stored confusion counts. */
  def mergedKappa(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.cohenKappaFromCounts(
      mergedConfusion(spark, targetDir, groupCol), Seq(groupCol))

  /** Whole-stream MCC from the SAME stored counts (boolean-labeled
    * stream — [[graft.operators.Stats.mccFromCounts]]). */
  def mergedMcc(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mccFromCounts(
      mergedConfusion(spark, targetDir, groupCol), Seq(groupCol))

  private def mergedConfusion(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, groupCol: String): DataFrame =
    graft.operators.Stats.mergeConfusionCounts(
      Seq(partials(spark, targetDir, groupCol, "truth", "pred")),
      Seq(groupCol))

  /** Streaming association-rule maintenance — the ingestion face of
    * [[graft.operators.Assoc.associationRules]]. Basket-pair facts are
    * DISTINCT (basket, item) sightings, which are NOT additive across
    * micro-batches (the same user clicking again must not double-count
    * into support), so this sink is the INCREMENTAL-DEDUP shape, not
    * the partial-sum shape: each micro-batch's distinct pairs
    * anti-join the state table and only unseen pairs append. That
    * makes the sink IDEMPOTENT BY CONSTRUCTION under foreachBatch's
    * at-least-once replay — a replayed batch finds all its pairs
    * already in state and appends nothing — so no batch_id guard is
    * needed (the KMV/HLL posture, achieved via anti-join instead of
    * union semantics). State is the distinct pair set: exactly the
    * input [[graft.operators.Assoc.associationRules]] deduplicates to
    * anyway, so the readout is definitionally == the batch run over
    * the whole history. The state dir accumulates one small file per
    * pair-bearing batch — compact it on the same cadence as the dedup
    * state (the d_state_compaction machinery: rewrite + swap, readers
    * see either layout identically). */
  def startBasketPairsQuery(events: DataFrame, basketCol: String,
      itemCol: String, targetDir: String, checkpointDir: String) =
    events
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.toDF()
          .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
          .select(col(basketCol).as("bk"), col(itemCol).as("it"))
          .distinct()
        val seen =
          try spark.read.parquet(targetDir)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              fresh.schema)
          }
        fresh.join(seen, Seq("bk", "it"), "left_anti")
          .write.mode("append").parquet(targetDir)
      }
      .start()

  /** Whole-stream association rules from the pair state maintained by
    * [[startBasketPairsQuery]] — the state IS the deduplicated input,
    * so this is bit-identical to the batch operator over all history. */
  def mergedAssociationRules(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, minPairCount: Long = 1,
      maxBasketItems: Int = 1000): DataFrame =
    graft.operators.Assoc.associationRules(spark.read.parquet(targetDir),
      col("bk"), col("it"), minPairCount, maxBasketItems)

  /** Streaming exact dedup — the ingestion-time face of the batch dedup
    * block: arriving documents are keyed by (xxhash64, sha2) of their
    * content and deduplicated statefully; the event-time watermark bounds
    * how long a content key stays in state, so the store cannot grow
    * unboundedly on an endless stream. Emits only first sightings. */
  def streamingDedup(docs: DataFrame, tsCol: String, contentCol: String,
      retention: String = "30 days"): DataFrame =
    docs
      .withColumn("h64", xxhash64(col(contentCol)))
      .withColumn("h256", sha2(col(contentCol).cast("binary"), 256))
      .withWatermark(tsCol, retention)
      .dropDuplicatesWithinWatermark("h64", "h256")

  /** Stream-static enrichment — the ingestion-time face of the batch
    * metadata join (J1): arriving events left-join a static dimension by
    * key. The static side is broadcast into every micro-batch, so the
    * STREAM never shuffles — the same broadcast discipline the batch
    * plan asserts, applied at ingestion. Combine with [[weeklyCounts]]
    * downstream for enriched weekly aggregates. */
  def enrichedStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-STREAM interval join — two live streams correlated by key
    * within an event-time band: each `right` row matches the `left` rows
    * with the same key whose timestamp lies in
    * `[rightTs − maxDelay, rightTs]` (e.g. a purchase joins every view by
    * the same user in the preceding hour — the streaming face of the
    * batch interval/as-of family in [[graft.operators.AsOf]]).
    *
    * Both inputs get watermarks AND the join condition bounds the two
    * event times against each other — that pair is what lets Spark
    * compute how long a buffered row can still find a partner and EVICT
    * join state on both sides (a stream-stream join without a time-bound
    * condition grows state forever and is rejected in append mode).
    * Column names must be disjoint apart from the key (the usual
    * prefixing discipline is the caller's).
    *
    * Inner join only: streaming outer interval joins emit their
    * null-padded rows on watermark expiry — correct but delivery-time-
    * dependent, which breaks the batch-parity contract this module
    * keeps (StreamingSpec asserts stream == batch on identical data). */
  def intervalJoin(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String, key: String,
      maxDelay: String, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
        l(leftTs) >= r(rightTs) - expr(s"INTERVAL $maxDelay") &&
        l(leftTs) <= r(rightTs))
      .drop(r(key))
  }

  /** Streaming curation — the ingestion-time face of
    * [[graft.LlmPipeline.curate]]: arriving documents are quality-gated
    * (stateless scan expressions), deduplicated exactly within the
    * watermark ([[streamingDedup]] — the only stateful stage, bounded),
    * chunked (stateless explode), and split-labeled (pure hash of the
    * id). Every stage is the SAME operator the batch pipeline uses, so
    * batch and stream produce identical rows for identical inputs —
    * near-dup (MinHash) removal stays batch-side where it belongs (it
    * needs corpus-wide candidates, not a per-event decision). */
  def streamingCurate(docs: DataFrame, tsCol: String, idCol: String,
      textCol: String, maxTokens: Int = 512, overlap: Int = 64,
      minQuality: Double = 0.6, retention: String = "30 days",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): DataFrame = {
    import graft.operators.TextAnalysis
    val gated = docs
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
    val deduped = streamingDedup(gated, tsCol, textCol, retention)
      .withColumn("split", TextAnalysis.hashSplit(col(idCol), splits))
    TextAnalysis.chunkByTokens(deduped, col(idCol), col(textCol),
      maxTokens, overlap, passthrough = Seq("quality", "split"))
  }

  /** Ingestion-time benchmark decontamination: drop arriving documents
    * that share any word `k`-gram with the STATIC benchmark corpus. The
    * benchmark gram set (an eval suite — KBs to MBs by definition) is
    * collected once and shipped as an array literal; the stream side is a
    * pure `arrays_overlap` filter — zero streaming state, no join at all,
    * so it composes with any downstream watermarked stage. (An exploded
    * gram join would need a stream-stream anti join back onto the
    * document stream, which Structured Streaming does not support.)
    * Built from the SAME shingle expression as the batch
    * [[graft.operators.Curation.decontaminate]], so batch and stream
    * agree document for document. */
  def streamingDecontaminate(docs: DataFrame, textCol: String,
      bench: DataFrame, benchText: Column, k: Int = 13): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val benchGrams: Seq[String] =
      Dedup.shinglePosting(bench, lit(0L), benchText, k)
        .select("sh").distinct().collect().map(_.getString(0)).toSeq
    // tokens staged as their own column: the shingle lambda references
    // them once per shingle, and an inline tokenizer would be re-run by
    // the interpreted HOF O(shingles) times per row
    docs
      .withColumn("__toks",
        TextAnalysis.wsTokens(TextAnalysis.normalized(col(textCol))))
      .withColumn("__sh",
        array_distinct(Dedup.shinglesFromTokens(col("__toks"), k)))
      .filter(!arrays_overlap(col("__sh"), typedlit(benchGrams)))
      .drop("__toks", "__sh")
  }

  /** Current weekly matrix from the foreachBatch target: latest batch's
    * value per (key, week). */
  def latestWeekly(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key", "week_start").orderBy(col("batch_id").desc)
    spark.read.parquet(targetDir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("week_start", "key", "freq")
  }
}
