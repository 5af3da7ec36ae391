package graft

import graft.streaming.{StreamingEntityResolution, StreamingTimeSeries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("streaming-spec")

  override def afterAll(): Unit = spark.stop()

  test("streaming weekly counts equal the batch weekly bin on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val rows = Seq(
      ("2021-01-03 10:00:00", "purchase"), // Sunday → week 2021-01-03
      ("2021-01-05 11:00:00", "purchase"),
      ("2021-01-05 12:00:00", "signup"),
      ("2021-01-12 09:00:00", "purchase")) // Tuesday → week 2021-01-10
      .map { case (t, k) => (java.sql.Timestamp.valueOf(t), k) }
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamingTimeSeries.startWeeklyQuery(df, "ts", "event_type", "weekly_test")
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("weekly_test")
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      val batch = rows.toDF("ts", "event_type")
        .groupBy(graft.operators.TimeSeries.weekStart(to_date(col("ts"))).as("week_start"),
          col("event_type"))
        .agg(count(lit(1)).as("freq"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(batch(("2021-01-03", "purchase")) == 2L)
    } finally q.stop()
  }

  test("weekly counts drop rows later than the watermark (state actually evicts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamingTimeSeries.startWeeklyQuery(df, "ts", "event_type", "late_test")
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // batch 1 advances the watermark to ~2021-05-18 (max event − 14 days)
      input.addData((t("2021-06-01 10:00:00"), "purchase"))
      q.processAllAvailable()
      // batch 2: a January row is months behind the watermark → must be
      // DISCARDED, not aggregated (with the derived-column grouping bug the
      // watermark never applied and this row would create a new week)
      input.addData((t("2021-01-03 10:00:00"), "purchase"))
      q.processAllAvailable()
      val weeks = spark.table("late_test").collect().map(_.getDate(0).toString).toSet
      assert(weeks == Set("2021-05-30"), s"late row leaked into: $weeks")
    } finally q.stop()
  }

  test("foreachBatch parquet sink: incremental updates converge to batch truth (RocksDB state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val target = "/tmp/graft_stream_target"
    val ckpt = "/tmp/graft_stream_ckpt"
    for (d <- Seq(target, ckpt)) {
      val f = new java.io.File(d)
      if (f.exists()) java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val q = StreamingTimeSeries.startWeeklyParquetQuery(df, "ts", "event_type", target, ckpt)
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2021-01-03 10:00:00"), "purchase"))
      q.processAllAvailable()
      input.addData((t("2021-01-05 11:00:00"), "purchase"),
        (t("2021-01-12 09:00:00"), "signup"))
      q.processAllAvailable()
      val latest = StreamingTimeSeries.latestWeekly(spark, target)
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(latest == Map(
        ("2021-01-03", "purchase") -> 2L, // updated across two batches
        ("2021-01-10", "signup") -> 1L))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup: repeated content across batches emits once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingTimeSeries.streamingDedup(
        input.toDF().toDF("ts", "text"), "ts", "text")
      .select("text")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_test").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2021-01-01 10:00:00"), "doc A"),
        (t("2021-01-01 10:01:00"), "doc A"), (t("2021-01-01 10:02:00"), "doc B"))
      out.processAllAvailable()
      input.addData((t("2021-01-02 09:00:00"), "doc A"), // dup from batch 1
        (t("2021-01-02 09:01:00"), "doc C"))
      out.processAllAvailable()
      val texts = spark.table("dedup_test").collect().map(_.getString(0)).sorted
      assert(texts.toSeq == Seq("doc A", "doc B", "doc C"))
    } finally out.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("purchase", "revenue"), ("signup", "growth"))
      .toDF("event_type", "category")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingTimeSeries.enrichedStream(
        input.toDF().toDF("ts", "event_type"), dim, "event_type")
      .select("event_type", "category")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_test").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2021-01-03 10:00:00"), "purchase"),
        (t("2021-01-03 11:00:00"), "unknown_evt"))
      out.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(rows == Map("purchase" -> Some("revenue"), "unknown_evt" -> None))
    } finally out.stop()
  }

  test("file-source stream: parquet files arriving in a directory converge to batch truth") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val srcDir = java.nio.file.Files.createTempDirectory("stream_src").toString
    val batch1 = Seq((t("2021-01-03 10:00:00"), "purchase"),
      (t("2021-01-05 11:00:00"), "signup"))
    val batch2 = Seq((t("2021-01-05 12:00:00"), "purchase"),
      (t("2021-01-12 09:00:00"), "purchase"))
    batch1.toDF("ts", "event_type").write.mode("append").parquet(srcDir)
    // the REAL production source: readStream over a landing directory —
    // new part files are discovered as new micro-batches
    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING")
      .parquet(srcDir)
    val q = StreamingTimeSeries.startWeeklyQuery(stream, "ts", "event_type",
      "file_src_test")
    try {
      q.processAllAvailable()
      batch2.toDF("ts", "event_type").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val streamed = spark.table("file_src_test")
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      val batch = (batch1 ++ batch2).toDF("ts", "event_type")
        .groupBy(graft.operators.TimeSeries.weekStart(to_date(col("ts"))).as("week_start"),
          col("event_type"))
        .agg(count(lit(1)).as("freq"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(batch(("2021-01-03", "purchase")) == 2L)
    } finally q.stop()
  }

  test("streaming HLL sketches: per-batch partials merge to the exact batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sketch_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sketch_ckpt").toString
    val input = MemoryStream[(String, Long)]
    val q = StreamingTimeSeries.startDistinctSketchQuery(
      input.toDF().toDF("day", "user_id"), "day", "user_id",
      s"$dir/data", ckpt)
    try {
      // overlapping user sets across micro-batches: raw distinct per day
      // is NOT the sum of per-batch distincts — only a real merge works
      input.addData((0L until 40L).map(u => ("d1", u)) ++
        (0L until 10L).map(u => ("d2", u)): _*)
      q.processAllAvailable()
      input.addData((20L until 60L).map(u => ("d1", u)): _*) // 20 overlap
      q.processAllAvailable()
      val merged = StreamingTimeSeries.mergedDistinct(spark, s"$dir/data", "day")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // coupon mode at this size: exact, so equality is strict
      assert(merged == Map("d1" -> 60L, "d2" -> 10L))
    } finally q.stop()
  }

  test("streaming confusion counts: merged P/R/F1 and kappa == batch, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("conf_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("conf_ckpt").toString
    val rng = new scala.util.Random(71)
    val labels = Seq("en", "de", "es")
    val all = (0 until 600).map { _ =>
      val t = labels(rng.nextInt(3))
      val p = if (rng.nextInt(10) < 7) t else labels(rng.nextInt(3))
      (s"a${rng.nextInt(2)}", t, p)
    }
    val input = MemoryStream[(String, String, String)]
    val q = StreamingTimeSeries.startConfusionCountsQuery(
      input.toDF().toDF("g", "t", "p"), "g", "t", "p", s"$dir/data", ckpt)
    try {
      input.addData(all.take(80): _*); q.processAllAvailable()
      input.addData(all.slice(80, 450): _*); q.processAllAvailable()
      input.addData(all.drop(450): _*); q.processAllAvailable()
      def canonR(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getString(1)) ->
          r.toSeq.drop(2)).toMap
      val streamedR = canonR(StreamingTimeSeries
        .mergedClassificationReport(spark, s"$dir/data", "g"))
      val batchR = canonR(graft.operators.Stats.classificationReport(
        all.toDF("g", "t", "p"), Seq(col("g")), col("t"), col("p")))
      assert(streamedR == batchR, "streamed P/R/F1 diverged from batch")
      def canonK(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val streamedK = canonK(
        StreamingTimeSeries.mergedKappa(spark, s"$dir/data", "g"))
      val batchK = canonK(graft.operators.Stats.cohenKappa(
        all.toDF("g", "t", "p"), Seq(col("g")), col("t"), col("p")))
      assert(streamedK == batchK, "streamed kappa diverged from batch")
      // replayed micro-batch collapses under the batch_id guard
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      assert(canonK(StreamingTimeSeries.mergedKappa(
        spark, s"$dir/data", "g")) == batchK,
        "a replayed micro-batch double-counted into kappa")
      // a boolean-labeled stream through the same sink also serves MCC
      val bdir = java.nio.file.Files.createTempDirectory("mcc_sink").toString
      val bckpt = java.nio.file.Files.createTempDirectory("mcc_ckpt").toString
      val ball = all.map { case (g, t, p) => (g, t == "en", p == "en") }
      val binput = MemoryStream[(String, Boolean, Boolean)]
      val bq = StreamingTimeSeries.startConfusionCountsQuery(
        binput.toDF().toDF("g", "t", "p"), "g", "t", "p", s"$bdir/data",
        bckpt)
      try {
        binput.addData(ball.take(200): _*); bq.processAllAvailable()
        binput.addData(ball.drop(200): _*); bq.processAllAvailable()
        val streamedM = canonK(
          StreamingTimeSeries.mergedMcc(spark, s"$bdir/data", "g"))
        val batchM = canonK(graft.operators.Stats.mccBinary(
          ball.toDF("g", "t", "p"), Seq(col("g")), col("t"), col("p")))
        assert(streamedM == batchM, "streamed MCC diverged from batch")
      } finally bq.stop()
    } finally q.stop()
  }

  test("streaming calibration partials: merged == one-shot batch, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("calib_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("calib_ckpt").toString
    val rng = new scala.util.Random(53)
    val all = (0 until 900).map { _ =>
      val s = rng.nextInt(1000).toDouble / 1000.0
      (s"m${rng.nextInt(3)}", s, rng.nextDouble() < s) // roughly calibrated
    }
    val input = MemoryStream[(String, Double, Boolean)]
    val q = StreamingTimeSeries.startCalibrationPartialsQuery(
      input.toDF().toDF("m", "s", "y"), "m", "s", "y", s"$dir/data", ckpt)
    try {
      input.addData(all.take(100): _*); q.processAllAvailable()
      input.addData(all.slice(100, 700): _*); q.processAllAvailable()
      input.addData(all.drop(700): _*); q.processAllAvailable()
      def canonE(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val streamedE = canonE(
        StreamingTimeSeries.mergedCalibrationError(spark, s"$dir/data", "m"))
      val batchE = canonE(graft.operators.Stats.calibrationError(
        all.toDF("m", "s", "y"), Seq(col("m")), col("s"), col("y")))
      assert(streamedE == batchE, "streamed Brier/ECE diverged from batch")
      def canonR(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2))
          .toMap
      val streamedR = canonR(
        StreamingTimeSeries.mergedReliability(spark, s"$dir/data", "m"))
      val batchR = canonR(graft.operators.Stats.reliabilityTable(
        all.toDF("m", "s", "y"), Seq(col("m")), col("s"), col("y")))
      assert(streamedR == batchR, "streamed reliability diverged from batch")
      // at-least-once replay: re-append batch 1's partial rows verbatim;
      // the (group, bin, batch_id) guard must collapse them
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      assert(canonE(StreamingTimeSeries.mergedCalibrationError(
        spark, s"$dir/data", "m")) == batchE,
        "a replayed micro-batch double-counted into the calibration")
    } finally q.stop()
  }

  test("streaming basket pairs: merged rules == batch rules; replay appends nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("assoc_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("assoc_ckpt").toString
    val rng = new scala.util.Random(43)
    // heavy cross-batch repetition: the same (user, event) re-arrives
    val all = (0 until 600).map(_ =>
      (rng.nextInt(40).toLong, s"e${rng.nextInt(6)}"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingTimeSeries.startBasketPairsQuery(
      input.toDF().toDF("u", "e"), "u", "e", s"$dir/data", ckpt)
    try {
      input.addData(all.take(50): _*); q.processAllAvailable()
      input.addData(all.slice(50, 400): _*); q.processAllAvailable()
      input.addData(all.drop(400): _*); q.processAllAvailable()
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2))
          .toMap
      val streamed = canon(
        StreamingTimeSeries.mergedAssociationRules(spark, s"$dir/data"))
      val batch = canon(graft.operators.Assoc.associationRules(
        all.toDF("u", "e"), col("u"), col("e")))
      assert(streamed == batch,
        "stream-maintained rules diverged from the one-shot batch run")
      // state holds exactly the distinct pairs — no replay bloat possible,
      // and re-processing an already-seen slice appends nothing
      val stateBefore = spark.read.parquet(s"$dir/data").count()
      assert(stateBefore == all.map(t => (t._1, t._2)).distinct.size.toLong)
      input.addData(all.take(50): _*); q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/data").count() == stateBefore,
        "re-delivered pairs must anti-join away")
      assert(canon(StreamingTimeSeries.mergedAssociationRules(
        spark, s"$dir/data")) == batch)
    } finally q.stop()
  }

  test("streaming moment partials: merged batches == one-shot batch stats, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("moments_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("moments_ckpt").toString
    val rng = new scala.util.Random(31)
    val all = (0 until 900).map(i =>
      (s"g${i % 3}", rng.nextInt(500).toLong, rng.nextInt(50).toLong))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingTimeSeries.startMomentPartialsQuery(
      input.toDF().toDF("g", "x", "y"), "g", "x", "y", s"$dir/data", ckpt)
    try {
      // three uneven micro-batches
      input.addData(all.take(100): _*); q.processAllAvailable()
      input.addData(all.slice(100, 700): _*); q.processAllAvailable()
      input.addData(all.drop(700): _*); q.processAllAvailable()
      val streamed = StreamingTimeSeries.mergedMoments(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.operators.Stats.exactMoments(
          all.toDF("g", "x", "y"), Seq(col("g")), col("x"), col("y"))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(streamed == batch,
        "stream-maintained rollup diverged from one-shot batch stats")
      // simulate foreachBatch's at-least-once replay: re-append batch 1's
      // partial rows verbatim (same batch_id); the reader must collapse
      // the duplicate, not double-count it
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      val afterReplay = StreamingTimeSeries.mergedMoments(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(afterReplay == batch,
        "a replayed micro-batch double-counted into the rollup")
      // the SAME summary table answers trend questions: streaming OLS
      // readout == one-shot batch groupOls, bit for bit (replay included)
      val olsStreamed = StreamingTimeSeries.mergedOls(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val olsBatch = graft.operators.Stats.groupOls(
          all.toDF("g", "x", "y"), Seq(col("g")), col("x"), col("y"))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(olsStreamed == olsBatch,
        "stream-maintained OLS diverged from one-shot batch groupOls")
    } finally q.stop()
  }

  test("streaming moment partials: equal partials from distinct batches both count; a replay counts once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("moments_eq_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("moments_eq_ckpt").toString
    val rng = new scala.util.Random(37)
    val one = (0 until 200).map(i =>
      (s"g${i % 2}", rng.nextInt(500).toLong, rng.nextInt(50).toLong))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingTimeSeries.startMomentPartialsQuery(
      input.toDF().toDF("g", "x", "y"), "g", "x", "y", s"$dir/data", ckpt)
    try {
      // two micro-batches with the same content store equal partial rows
      // that differ only in their batch_id
      input.addData(one: _*); q.processAllAvailable()
      input.addData(one: _*); q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/data")
      assert(stored.count() == 4 &&
        stored.select("batch_id").distinct().count() == 2 &&
        stored.drop("batch_id").distinct().count() == 2,
        "the two batches did not store equal partials under distinct ids")
      def merged = StreamingTimeSeries.mergedMoments(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val want = graft.operators.Stats.exactMoments(
          (one ++ one).toDF("g", "x", "y"), Seq(col("g")), col("x"), col("y"))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(merged == want,
        "equal partials from distinct batches collapsed into one")
      // an at-least-once replay of the second batch appends its rows again
      // under the same batch_id: it must not count a third time
      val last = stored.agg(max("batch_id")).head().getLong(0)
      stored.filter(col("batch_id") === last)
        .write.mode("append").parquet(s"$dir/data")
      assert(merged == want, "a replayed micro-batch counted twice")
    } finally q.stop()
  }

  test("streaming seasonal partials: merged decompose == one-shot batch, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("seasonal_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("seasonal_ckpt").toString
    val rng = new scala.util.Random(41)
    // ~16 weeks × 2 keys of events with a weekly-varying rate; batch
    // slicing is by arrival, NOT by week, so micro-batch boundaries cut
    // straight through the centered trend windows
    val base = java.time.LocalDateTime.of(2021, 1, 3, 8, 0)
    val all = for {
      w <- 0 until 16; k <- Seq("a", "b")
      n = 3 + ((w * 7 + k.hashCode.abs) % 5)
      i <- 0 until n
    } yield (java.sql.Timestamp.valueOf(
      base.plusDays(w * 7 + rng.nextInt(7)).plusMinutes(i.toLong)), k)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingTimeSeries.startSeasonalPartialsQuery(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type",
      s"$dir/data", ckpt)
    try {
      input.addData(all.take(30): _*); q.processAllAvailable()
      input.addData(all.slice(30, 90): _*); q.processAllAvailable()
      input.addData(all.drop(90): _*); q.processAllAvailable()
      def toKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDate(1).toString) ->
          r.toSeq.drop(2)).toMap
      val streamed = toKey(StreamingTimeSeries.mergedSeasonal(
        spark, s"$dir/data", period = 5))
      val batchWeekly = graft.operators.TimeSeries.denseWeekly(
        graft.operators.TimeSeries.weeklyFrequency(
          all.toDF("ts", "event_type"), to_date(col("ts")),
          col("event_type"))).select("key", "week_start", "freq")
      val batch = toKey(graft.operators.TimeSeries.decompose(
        batchWeekly, Seq("key"), col("week_start"), col("freq"), 5))
      assert(streamed == batch,
        "stream-maintained decompose diverged from the one-shot batch")
      // at-least-once replay: re-append batch 1's weekly deltas verbatim
      // (same batch_id); the reader's dedup must collapse them
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      assert(toKey(StreamingTimeSeries.mergedSeasonal(
        spark, s"$dir/data", 5)) == batch,
        "a replayed micro-batch double-counted into the decomposition")
      // the SAME partials answer the anomaly question, bit for bit
      val anomStream = toKey(StreamingTimeSeries.mergedAnomalies(
        spark, s"$dir/data", 5, k = 2.0))
      val anomBatch = toKey(graft.operators.TimeSeries.anomalies(
        batchWeekly, Seq("key"), col("week_start"), col("freq"), 5, 2.0))
      assert(anomStream == anomBatch)
      // ...and the changepoint question, from the same summary table
      def cpKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getInt(1)) ->
          r.toSeq.drop(2)).toMap
      val cpStream = cpKey(StreamingTimeSeries.mergedChangepoints(
        spark, s"$dir/data", maxChanges = 2))
      val cpBatch = cpKey(graft.operators.TimeSeries.changepoints(
        batchWeekly, Seq("key"), col("week_start"), col("freq"), 2))
      assert(cpStream == cpBatch)
      // ...and the CUSUM question
      def cuKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val cuStream = cuKey(StreamingTimeSeries.mergedCusum(
        spark, s"$dir/data", slack = 1L, threshold = 10L))
      val cuBatch = cuKey(graft.operators.TimeSeries.cusum(
        batchWeekly, Seq("key"), col("week_start"), col("freq"), 1L, 10L))
      assert(cuStream == cuBatch)
      // ...and the periodicity question (ACF rides the SPARSE weekly
      // table, like the batch c_acf face)
      def acKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)) ->
          r.toSeq.drop(2)).toMap
      val acStream = acKey(StreamingTimeSeries.mergedAcf(
        spark, s"$dir/data", maxLag = 4))
      val sparseWeekly = graft.operators.TimeSeries.weeklyFrequency(
        all.toDF("ts", "event_type"), to_date(col("ts")),
        col("event_type"))
      val acBatch = acKey(graft.operators.TimeSeries.acf(
        sparseWeekly, Seq("key"), col("week_start"), col("freq"), 4))
      assert(acStream == acBatch)
      // ...and the whole forecasting ladder, from the same summary
      def fKey(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(fKey(StreamingTimeSeries.mergedEwma(spark, s"$dir/data",
          alpha = 0.25)) ==
        fKey(graft.operators.TimeSeries.ewma(sparseWeekly, Seq("key"),
          col("week_start"), col("freq"), 0.25)))
      assert(fKey(StreamingTimeSeries.mergedHolt(spark, s"$dir/data",
          alpha = 0.25, gamma = 0.125, horizon = 2)) ==
        fKey(graft.operators.TimeSeries.holt(sparseWeekly, Seq("key"),
          col("week_start"), col("freq"), 0.25, 0.125, 2)))
      assert(fKey(StreamingTimeSeries.mergedHoltWinters(spark,
          s"$dir/data", period = 5, horizon = 2)) ==
        fKey(graft.operators.TimeSeries.holtWinters(sparseWeekly,
          Seq("key"), col("week_start"), col("freq"), 5, horizon = 2)))
    } finally q.stop()
  }

  test("streaming drift counts: all four merged metrics == one-shot batch, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("drift_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("drift_ckpt").toString
    val rng = new scala.util.Random(59)
    val edges = Seq(20.0, 40.0, 60.0)
    // two groups, cohorts with a real shift in one of them
    val all = (0 until 800).map { i =>
      val g = s"g${i % 2}"
      val coh = i % 3 == 0
      val x = (rng.nextInt(60) + (if (coh && g == "g1") 15 else 0)).toLong
      (g, x, coh)
    }
    val input = MemoryStream[(String, Long, Boolean)]
    val q = StreamingTimeSeries.startDriftCountsQuery(
      input.toDF().toDF("g", "x", "coh"), "g", "x", "coh", edges,
      dir, ckpt)
    try {
      input.addData(all.take(100): _*); q.processAllAvailable()
      input.addData(all.slice(100, 600): _*); q.processAllAvailable()
      input.addData(all.drop(600): _*); q.processAllAvailable()
      val batchDf = all.toDF("g", "x", "coh")
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Stats
      assert(m(StreamingTimeSeries.mergedPsi(spark, dir, "g")) ==
        m(Stats.psi(batchDf, Seq(col("g")), col("x"), col("coh"), edges)))
      assert(m(StreamingTimeSeries.mergedJs(spark, dir, "g")) ==
        m(Stats.jsDivergence(batchDf, Seq(col("g")), col("x"), col("coh"),
          edges)))
      assert(m(StreamingTimeSeries.mergedKs(spark, dir, "g")) ==
        m(Stats.ksStatistic(batchDf, Seq(col("g")), col("x"), col("coh"))))
      assert(m(StreamingTimeSeries.mergedMannWhitney(spark, dir, "g")) ==
        m(Stats.mannWhitneyU(batchDf, Seq(col("g")), col("x"), col("coh"))))
      // at-least-once replay: re-append batch 1's partials verbatim in
      // BOTH stores; every readout must collapse the duplicates
      Seq("bins", "values").foreach { sub =>
        spark.read.parquet(s"$dir/$sub").filter(col("batch_id") === 1L)
          .write.mode("append").parquet(s"$dir/$sub")
      }
      assert(m(StreamingTimeSeries.mergedKs(spark, dir, "g")) ==
        m(Stats.ksStatistic(batchDf, Seq(col("g")), col("x"), col("coh"))),
        "a replayed micro-batch double-counted into the KS readout")
      assert(m(StreamingTimeSeries.mergedPsi(spark, dir, "g")) ==
        m(Stats.psi(batchDf, Seq(col("g")), col("x"), col("coh"), edges)))
    } finally q.stop()
  }

  test("streaming agreement counts: merged linkage weights == batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lk_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lk_ckpt").toString
    val rng = new scala.util.Random(29)
    val all = (0 until 400).map { i =>
      val isMatch = i % 2 == 0
      (isMatch,
        if (isMatch) rng.nextInt(8) > 0 else rng.nextInt(8) == 0,
        rng.nextBoolean())
    }
    val fields = Seq("name" -> "f_name", "city" -> "f_city")
    val input = MemoryStream[(Boolean, Boolean, Boolean)]
    val q = StreamingTimeSeries.startAgreementCountsQuery(
      input.toDF().toDF("is_match", "f_name", "f_city"), "is_match",
      fields, dir, ckpt)
    try {
      input.addData(all.take(50): _*); q.processAllAvailable()
      input.addData(all.slice(50, 300): _*); q.processAllAvailable()
      input.addData(all.drop(300): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Linkage
      val want = m(Linkage.trainWeights(
        all.toDF("is_match", "f_name", "f_city"), col("is_match"),
        Seq("name" -> col("f_name"), "city" -> col("f_city"))))
      assert(m(StreamingTimeSeries.mergedLinkageWeights(spark, dir))
        == want)
      // at-least-once replay collapses
      spark.read.parquet(s"$dir/agreements")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$dir/agreements")
      assert(m(StreamingTimeSeries.mergedLinkageWeights(spark, dir))
        == want, "a replayed micro-batch double-counted into m/u")
    } finally q.stop()
  }

  test("streaming level counts: merged Kruskal-Wallis == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kw_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kw_ckpt").toString
    val rng = new scala.util.Random(89)
    // 2 groups × 3 levels with a shifted level in g1, heavy ties
    val all = (0 until 600).map { i =>
      val g = s"g${i % 2}"
      val l = s"lv${i % 3}"
      val x = (rng.nextInt(10) + (if (g == "g1" && l == "lv0") 4 else 0))
        .toDouble
      (g, l, x)
    }
    val input = MemoryStream[(String, String, Double)]
    val q = StreamingTimeSeries.startLevelCountsQuery(
      input.toDF().toDF("g", "l", "x"), "g", "l", "x", dir, ckpt)
    try {
      input.addData(all.take(80): _*); q.processAllAvailable()
      input.addData(all.slice(80, 450): _*); q.processAllAvailable()
      input.addData(all.drop(450): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Stats
      val want = m(Stats.kruskalWallis(all.toDF("g", "l", "x"),
        Seq(col("g")), col("l"), col("x")))
      assert(m(StreamingTimeSeries.mergedKruskalWallis(spark, dir, "g"))
        == want)
      // at-least-once replay collapses
      spark.read.parquet(s"$dir/level_values")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$dir/level_values")
      assert(m(StreamingTimeSeries.mergedKruskalWallis(spark, dir, "g"))
        == want, "a replayed micro-batch double-counted into H")
    } finally q.stop()
  }

  test("streaming survival counts: merged Kaplan-Meier == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("km_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("km_ckpt").toString
    val rng = new scala.util.Random(97)
    // closed subjects arriving over three uneven batches: 2 cohorts,
    // duplicate durations, ~30% censored
    val all = (0 until 500).map { i =>
      (s"g${i % 2}", (1 + rng.nextInt(15)).toDouble, rng.nextInt(10) < 7)
    }
    val input = MemoryStream[(String, Double, Boolean)]
    val q = StreamingTimeSeries.startSurvivalCountsQuery(
      input.toDF().toDF("g", "dur", "ev"), "g", "dur", "ev", dir, ckpt)
    try {
      input.addData(all.take(60): _*); q.processAllAvailable()
      input.addData(all.slice(60, 390): _*); q.processAllAvailable()
      input.addData(all.drop(390): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1)) ->
          r.toSeq.drop(2)).toMap
      import graft.operators.Stats
      val want = m(Stats.kaplanMeier(all.toDF("g", "dur", "ev"),
        Seq("g"), col("dur"), col("ev")))
      assert(m(StreamingTimeSeries.mergedKaplanMeier(spark, dir, "g"))
        == want)
      // Nelson–Aalen: a SECOND readout over the SAME stored deltas
      val wantNa = m(Stats.nelsonAalen(all.toDF("g", "dur", "ev"),
        Seq("g"), col("dur"), col("ev")))
      assert(m(StreamingTimeSeries.mergedNelsonAalen(spark, dir, "g"))
        == wantNa)
      // at-least-once replay collapses via the batch_id guard
      spark.read.parquet(s"$dir/survival_counts")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$dir/survival_counts")
      assert(m(StreamingTimeSeries.mergedKaplanMeier(spark, dir, "g"))
        == want, "a replayed micro-batch double-counted into survival")
      assert(m(StreamingTimeSeries.mergedNelsonAalen(spark, dir, "g"))
        == wantNa, "a replayed micro-batch double-counted into hazard")
    } finally q.stop()
  }

  test("streaming cohort survival counts: merged log-rank == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lr_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lr_ckpt").toString
    val rng = new scala.util.Random(103)
    // closed subjects: cohort 1 fails earlier, arriving over 3 batches
    val all = (0 until 400).map { i =>
      val c1 = i % 2 == 0
      val dur = (if (c1) 1 + rng.nextInt(8) else 4 + rng.nextInt(10))
        .toDouble
      ("g", dur, rng.nextInt(5) > 0, c1)
    }
    val input = MemoryStream[(String, Double, Boolean, Boolean)]
    val q = StreamingTimeSeries.startCohortSurvivalCountsQuery(
      input.toDF().toDF("g", "dur", "ev", "c1"), "g", "dur", "ev", "c1",
      dir, ckpt)
    try {
      input.addData(all.take(50): _*); q.processAllAvailable()
      input.addData(all.slice(50, 330): _*); q.processAllAvailable()
      input.addData(all.drop(330): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Stats
      val want = m(Stats.logRank(all.toDF("g", "dur", "ev", "c1"),
        Seq("g"), col("dur"), col("ev"), col("c1")))
      assert(m(StreamingTimeSeries.mergedLogRank(spark, dir, "g"))
        == want)
      // Gehan–Breslow: a SECOND readout over the SAME stored deltas
      val wantG = m(Stats.gehanLogRank(all.toDF("g", "dur", "ev", "c1"),
        Seq("g"), col("dur"), col("ev"), col("c1")))
      assert(m(StreamingTimeSeries.mergedGehanLogRank(spark, dir, "g"))
        == wantG)
      // stratified: a THIRD readout, the group key read as the stratum
      val wantS = Stats.stratifiedLogRank(
        all.toDF("g", "dur", "ev", "c1"), Nil, col("g"), col("dur"),
        col("ev"), col("c1")).head().toSeq
      assert(StreamingTimeSeries.mergedStratifiedLogRank(spark, dir,
        "g").head().toSeq == wantS)
      spark.read.parquet(s"$dir/cohort_surv_counts")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$dir/cohort_surv_counts")
      assert(m(StreamingTimeSeries.mergedLogRank(spark, dir, "g"))
        == want, "a replayed micro-batch double-counted into log-rank")
      assert(m(StreamingTimeSeries.mergedGehanLogRank(spark, dir, "g"))
        == wantG, "a replayed micro-batch double-counted into Gehan")
    } finally q.stop()
  }

  test("streaming attribution counts: merged shapley AND markov == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("attr_sink").toString
    val ck1 = java.nio.file.Files.createTempDirectory("attr_ck1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("attr_ck2").toString
    val chans = Seq("a", "b", "c")
    val rng = new scala.util.Random(101)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // closed users arriving over three batches; each user's FULL event
    // set stays within one batch (the closed-subject contract)
    val users = (0 until 300).map { u =>
      val path = Seq.fill(1 + rng.nextInt(4))(chans(rng.nextInt(3)))
      val conv = rng.nextInt(3) == 0
      path.zipWithIndex.map { case (ch, i) =>
        (s"u$u", ch, ts(i), (u * 10 + i).toLong) } ++
        (if (conv) Seq((s"u$u", "buy", ts(9), (u * 10 + 9).toLong))
         else Nil)
    }
    val all = users.flatten
    val input1 = MemoryStream[(String, String, java.sql.Timestamp, Long)]
    val input2 = MemoryStream[(String, String, java.sql.Timestamp, Long)]
    val cols = Seq("u", "ch", "t", "eid")
    val q1 = StreamingTimeSeries.startMaskCountsQuery(
      input1.toDF().toDF(cols: _*).withColumn("cv", col("ch") === "buy"),
      "u", "ch", "cv", chans, base, ck1)
    val q2 = StreamingTimeSeries.startTransitionCountsQuery(
      input2.toDF().toDF(cols: _*).withColumn("cv", col("ch") === "buy"),
      "u", "ch", "t", "eid", "cv", chans, base, ck2)
    try {
      val batches = Seq(users.take(40), users.slice(40, 230),
        users.drop(230)).map(_.flatten)
      batches.foreach { b =>
        input1.addData(b: _*); q1.processAllAvailable()
        input2.addData(b: _*); q2.processAllAvailable()
      }
      import graft.operators.Attribution
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val df = all.toDF(cols: _*).withColumn("cv", col("ch") === "buy")
      val wantS = rows(Attribution.shapley(df, col("u"), col("ch"),
        col("cv"), chans))
      val wantM = rows(Attribution.markovRemoval(df, col("u"), col("ch"),
        col("t"), col("eid"), col("cv"), chans))
      assert(rows(StreamingTimeSeries.mergedShapley(spark, base, chans))
        == wantS)
      assert(rows(StreamingTimeSeries.mergedMarkovRemoval(spark, base,
        chans)) == wantM)
      // at-least-once replay collapses via the batch_id guard
      for (d <- Seq("mask_counts", "transition_counts")) {
        spark.read.parquet(s"$base/$d").filter(col("batch_id") === 1L)
          .write.mode("append").parquet(s"$base/$d")
      }
      assert(rows(StreamingTimeSeries.mergedShapley(spark, base, chans))
        == wantS, "replayed mask deltas double-counted")
      assert(rows(StreamingTimeSeries.mergedMarkovRemoval(spark, base,
        chans)) == wantM, "replayed transition deltas double-counted")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming position credits: merged position attribution == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("pos_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pos_ckpt").toString
    val chans = Seq("a", "b", "c")
    val rng = new scala.util.Random(107)
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${1 + d}%02d 10:00:00")
    // closed users over three batches; day-spaced touches so the decay
    // weights actually vary
    val users = (0 until 200).map { u =>
      val path = Seq.fill(1 + rng.nextInt(4))(chans(rng.nextInt(3)))
      val conv = rng.nextInt(2) == 0
      path.zipWithIndex.map { case (ch, i) =>
        (s"u$u", ch, ts(i * (1 + u % 9)), (u * 10 + i).toLong) } ++
        (if (conv) Seq((s"u$u", "buy", ts(27), (u * 10 + 9).toLong))
         else Nil)
    }
    val all = users.flatten
    val input = MemoryStream[(String, String, java.sql.Timestamp, Long)]
    val cols = Seq("u", "ch", "t", "eid")
    val q = StreamingTimeSeries.startPositionCreditsQuery(
      input.toDF().toDF(cols: _*).withColumn("cv", col("ch") === "buy"),
      "u", "ch", "t", "eid", "cv", chans, halfLifeDays = 7.0, base, ckpt)
    try {
      Seq(users.take(30), users.slice(30, 150), users.drop(150))
        .foreach { b => input.addData(b.flatten: _*); q.processAllAvailable() }
      import graft.operators.Attribution
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val df = all.toDF(cols: _*).withColumn("cv", col("ch") === "buy")
      val want = rows(Attribution.positionAttribution(df, col("u"),
        col("ch"), col("t"), col("eid"), col("cv"), chans,
        halfLifeDays = 7.0))
      assert(rows(StreamingTimeSeries.mergedPositionAttribution(spark,
        base, chans)) == want)
      spark.read.parquet(s"$base/position_credits")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$base/position_credits")
      assert(rows(StreamingTimeSeries.mergedPositionAttribution(spark,
        base, chans)) == want, "replayed credit deltas double-counted")
    } finally q.stop()
  }

  test("incremental entity resolution: grown state == frozen-weights batch on the union; cross-batch twins link; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("er_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("er_ckpt").toString
    // the resolveEntities fixture, smaller: 40 disjoint-text records,
    // ids 0..19 get a twin at id+1000; 30..39 share a template text
    // (bucket-colliding non-matches)
    val vocab = (0 until 480).map(i => s"w${i}q${(i * 2654435761L) % 97}")
    def text(i: Int): String =
      if (i < 30) (0 until 12).map(k => vocab(i * 12 + k)).mkString(" ")
      else s"shared template words for the colliding family block v$i"
    def lang(i: Int) = if (i < 30) s"l${i % 3}" else s"L$i"
    def src(i: Int) = if (i < 30) s"s${i % 2}" else s"S$i"
    def len(i: Int): Long = if (i < 30) 100L + i else 1000L + 50L * i
    val baseRecs = (0 until 40).map(i =>
      (i.toLong, text(i), lang(i), src(i), len(i)))
    val twins = (0 until 20).map(i =>
      (i + 1000L, text(i) + " appended", lang(i), src(i), len(i) + 9L))
    val all = baseRecs ++ twins
    val weights = Seq(("lang", 2.0, -2.0), ("len", 2.0, -2.0),
      ("prefix", 2.0, -2.0), ("source", 2.0, -2.0))
      .toDF("field", "w_agree", "w_disagree")
    val fields = Seq(
      "lang" -> (col("a_lang") === col("b_lang")),
      "len" -> (abs(col("a_len") - col("b_len")) <= 20L),
      "prefix" -> (col("a_prefix") === col("b_prefix")),
      "source" -> (col("a_src") === col("b_src")))
    val input = MemoryStream[(Long, String, String, String, Long)]
    val stream = input.toDF().toDF("id", "text", "lang", "src", "len")
      .withColumn("prefix", substring(col("text"), 1, 24))
    val q = StreamingEntityResolution.startErIngestQuery(stream, "id",
      "text", Seq("lang", "len", "prefix", "src"), fields, weights,
      threshold = 0.0, base, ckpt, maxBucket = 10000)
    try {
      // bases first, twins in LATER batches: every twin edge is new-old
      Seq(all.take(25), all.slice(25, 48), all.drop(48))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val got = StreamingEntityResolution.mergedEntities(spark, base)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      import graft.operators.Linkage
      val unionDf = all.toDF("id", "text", "lang", "src", "len")
        .withColumn("prefix", substring(col("text"), 1, 24))
      val want = Linkage.resolveEntitiesWithWeights(unionDf, col("id"),
          col("text"),
          attrs = Seq("lang" -> col("lang"), "len" -> col("len"),
            "prefix" -> col("prefix"), "src" -> col("src")),
          fields = fields, weights = weights, maxBucket = 10000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
      // the planted twins DID link across batches, to the min id
      assert(got.size == 60)
      for (i <- 0 until 20) assert(got(i + 1000L) == i.toLong)
      // template family stayed separate despite bucket collisions
      for (i <- 30 until 40) assert(got(i.toLong) == i.toLong)
      // a verbatim re-delivered batch changes nothing (at-least-once)
      for (sub <- Seq("er_edges", "er_records", "er_keys")) {
        val replay = spark.read.parquet(s"$base/$sub")
          .filter(col("batch_id") === 1L)
        replay.write.mode("append").parquet(s"$base/$sub")
      }
      assert(StreamingEntityResolution.mergedEntities(spark, base)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want,
        "replayed batch mutated the entity assignment")
    } finally q.stop()
  }

  test("streaming cause counts: merged Aalen-Johansen == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("aj_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("aj_ckpt").toString
    val rng = new scala.util.Random(127)
    // CLOSED subjects: (duration, cause) immutable facts
    val all = (0 until 300).map { i =>
      ("g" + (i % 2), (1 + rng.nextInt(9)).toDouble,
        rng.nextInt(4) match { case 0 => 0; case 3 => 2; case _ => 1 })
    }
    val input = MemoryStream[(String, Double, Int)]
    val q = StreamingTimeSeries.startCauseSurvivalCountsQuery(
      input.toDF().toDF("g", "dur", "cause"), "g", "dur", "cause", 2,
      base, ckpt)
    try {
      Seq(all.take(70), all.slice(70, 220), all.drop(220))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      import graft.operators.Stats
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1),
          r.getInt(4)) -> r.toSeq).toMap
      val want = rows(Stats.aalenJohansen(all.toDF("g", "dur", "cause"),
        Seq("g"), col("dur"), col("cause"), 2))
      assert(rows(StreamingTimeSeries.mergedAalenJohansen(spark, base,
        "g", 2)) == want)
      spark.read.parquet(s"$base/cause_surv_counts")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$base/cause_surv_counts")
      assert(rows(StreamingTimeSeries.mergedAalenJohansen(spark, base,
        "g", 2)) == want, "replayed cause deltas double-counted")
    } finally q.stop()
  }

  test("streaming rating counts: merged Fleiss kappa == one-shot batch, items straddle batches, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("fk_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fk_ckpt").toString
    val rng = new scala.util.Random(131)
    // 60 items x 5 ratings each; slicing deliberately splits items
    val all = (0 until 300).map { i =>
      ("g", (i / 5).toLong, s"c${rng.nextInt(4)}")
    }
    val input = MemoryStream[(String, Long, String)]
    val q = StreamingTimeSeries.startRatingCountsQuery(
      input.toDF().toDF("g", "item", "cat"), "g", "item", "cat",
      base, ckpt)
    try {
      Seq(all.take(83), all.slice(83, 201), all.drop(201))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      import graft.operators.Stats
      val want = Stats.fleissKappa(all.toDF("g", "item", "cat"),
        Seq("g"), col("item"), col("cat")).head().toSeq
      assert(StreamingTimeSeries.mergedFleissKappa(spark, base, "g")
        .head().toSeq == want)
      spark.read.parquet(s"$base/rating_counts")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$base/rating_counts")
      assert(StreamingTimeSeries.mergedFleissKappa(spark, base, "g")
        .head().toSeq == want, "replayed rating deltas double-counted")
    } finally q.stop()
  }

  test("streaming arm counts: merged proportion uplift AND msprt == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("arm_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("arm_ckpt").toString
    val rng = new scala.util.Random(113)
    // independent trials (no closed-subject constraint: any slicing)
    val all = (0 until 900).map { i =>
      ("g" + (i % 2), i % 2 == 0 || i % 3 == 0,
        rng.nextDouble() < (if (i % 2 == 0) 0.5 else 0.3))
    }
    val input = MemoryStream[(String, Boolean, Boolean)]
    val q = StreamingTimeSeries.startArmCountsQuery(
      input.toDF().toDF("g", "t", "o"), "g", "t", "o", base, ckpt)
    try {
      Seq(all.take(100), all.slice(100, 600), all.drop(600))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      import graft.operators.Stats
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val df = all.toDF("g", "t", "o")
      val wantU = rows(Stats.proportionUplift(df, Seq(col("g")),
        col("t"), col("o")))
      val wantM = rows(Stats.msprt(df, Seq(col("g")), col("t"),
        col("o")))
      // third readout of the same state: g as the CMH stratum
      val wantC = Stats.cmhTest(df, Nil, col("g"), col("t"), col("o"))
        .head().toSeq
      assert(rows(StreamingTimeSeries.mergedProportionUplift(spark,
        base, "g")) == wantU)
      assert(rows(StreamingTimeSeries.mergedMsprt(spark, base, "g"))
        == wantM)
      assert(StreamingTimeSeries.mergedCmh(spark, base, "g")
        .head().toSeq == wantC)
      spark.read.parquet(s"$base/arm_counts")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$base/arm_counts")
      assert(rows(StreamingTimeSeries.mergedProportionUplift(spark,
        base, "g")) == wantU, "replayed count deltas double-counted")
      assert(rows(StreamingTimeSeries.mergedMsprt(spark, base, "g"))
        == wantM, "replayed count deltas double-counted into msprt")
    } finally q.stop()
  }

  test("streaming ratio moments: merged delta-method uplift == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ratio_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ratio_ckpt").toString
    val rng = new scala.util.Random(109)
    // closed units over three batches: each unit's full (num, den)
    // event set stays within one batch
    val units = (0 until 240).map { u =>
      val n = 2 + rng.nextInt(5)
      (0 until n).map(i =>
        ("g" + (u % 2), u % 3 == 0, u.toLong,
          rng.nextInt(3).toDouble, 1.0 + rng.nextInt(2)))
    }
    val all = units.flatten
    val input = MemoryStream[(String, Boolean, Long, Double, Double)]
    val cols = Seq("g", "t", "u", "num", "den")
    val q = StreamingTimeSeries.startRatioMomentsQuery(
      input.toDF().toDF(cols: _*), "g", "t", "u", "num", "den",
      quantScale = 1e3, base, ckpt)
    try {
      Seq(units.take(50), units.slice(50, 190), units.drop(190))
        .foreach { b => input.addData(b.flatten: _*); q.processAllAvailable() }
      import graft.operators.Stats
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val want = rows(Stats.ratioUplift(all.toDF(cols: _*), Seq("g"),
        col("t"), col("u"), col("num"), col("den"), quantScale = 1e3))
      assert(rows(StreamingTimeSeries.mergedRatioUplift(spark, base,
        "g")) == want)
      spark.read.parquet(s"$base/ratio_moments")
        .filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$base/ratio_moments")
      assert(rows(StreamingTimeSeries.mergedRatioUplift(spark, base,
        "g")) == want, "replayed moment deltas double-counted")
    } finally q.stop()
  }

  test("streaming contingency cells: merged chi2/V/MI == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cont_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cont_ckpt").toString
    val rng = new scala.util.Random(61)
    // two groups with different association strengths; b coupled to a
    // in g1 so the metrics are non-trivial
    val all = (0 until 700).map { i =>
      val g = s"g${i % 2}"
      val a = s"a${rng.nextInt(4)}"
      val b = if (g == "g1" && rng.nextInt(3) > 0) a.hashCode.toLong % 4
        else rng.nextInt(4).toLong
      (g, a, b)
    }
    val input = MemoryStream[(String, String, Long)]
    val q = StreamingTimeSeries.startContingencyCellsQuery(
      input.toDF().toDF("g", "a", "b"), "g", "a", "b", dir, ckpt)
    try {
      input.addData(all.take(90): _*); q.processAllAvailable()
      input.addData(all.slice(90, 500): _*); q.processAllAvailable()
      input.addData(all.drop(500): _*); q.processAllAvailable()
      val batchDf = all.toDF("g", "a", "b")
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Stats
      val want = m(Stats.contingencyStats(batchDf, Seq(col("g")),
        col("a"), col("b")))
      assert(m(StreamingTimeSeries.mergedContingency(spark, dir, "g")) ==
        want)
      // at-least-once replay: re-append batch 1's cell deltas verbatim;
      // the readout must collapse the duplicates
      spark.read.parquet(s"$dir/cells").filter(col("batch_id") === 1L)
        .write.mode("append").parquet(s"$dir/cells")
      assert(m(StreamingTimeSeries.mergedContingency(spark, dir, "g")) ==
        want, "a replayed micro-batch double-counted into the profile")
    } finally q.stop()
  }

  test("streaming retention grid: merged matrix == one-shot batch, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ret_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ret_ckpt").toString
    val rng = new scala.util.Random(83)
    // 40 users active over 6 weeks with decaying probability; the same
    // (user, week) pair recurs across batches so cross-batch dedup is
    // actually exercised
    val all = (0 until 600).map { i =>
      val u = s"u${rng.nextInt(40)}"
      val w = rng.nextInt(6)
      (u, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 7)
        .plusDays(7L * w + rng.nextInt(7))))
    }
    val input = MemoryStream[(String, java.sql.Date)]
    val q = StreamingTimeSeries.startUserWeeksQuery(
      input.toDF().toDF("u", "dt"), "u", "dt", dir, ckpt)
    try {
      input.addData(all.take(70): _*); q.processAllAvailable()
      input.addData(all.slice(70, 420): _*); q.processAllAvailable()
      input.addData(all.drop(420): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getDate(0).toString, r.getLong(1)) ->
          r.toSeq.drop(2)).toMap
      import graft.operators.TimeSeries
      val want = m(TimeSeries.retentionCohorts(all.toDF("u", "dt"),
        col("u"), col("dt")))
      assert(m(StreamingTimeSeries.mergedRetention(spark, dir)) == want)
      // at-least-once replay: re-append the whole grid verbatim — the
      // idempotent-fact dedup must collapse it with no batch_id help
      val grid = spark.read.parquet(s"$dir/user_weeks")
      grid.write.mode("append").parquet(s"$dir/user_weeks")
      assert(m(StreamingTimeSeries.mergedRetention(spark, dir)) == want,
        "a replayed activity grid double-counted into the matrix")
    } finally q.stop()
  }

  test("watermarked retention: closed windows == batch; state evicts beyond the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("retwm_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("retwm_ckpt").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // Sundays: week k starts 2024-01-07 + 7k
    def wk(k: Int, day: Int = 0) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 7).plusDays(7L * k + day))
    val input = MemoryStream[(String, java.sql.Date)]
    val q = StreamingTimeSeries.startWatermarkedUserWeeksQuery(
      input.toDF().toDF("u", "dt"), "u", "dt", dir, ckpt, horizonWeeks = 2)
    try {
      // weeks 0-1: four users, duplicate facts within AND across batches
      val early = Seq(("u0", wk(0)), ("u0", wk(0, 3)), ("u1", wk(0)),
        ("u2", wk(0)), ("u3", wk(0)), ("u0", wk(1)), ("u1", wk(1, 2)))
      input.addData(early.take(4): _*); q.processAllAvailable()
      input.addData(early.drop(4): _*); q.processAllAvailable()
      input.addData(early.take(3): _*); q.processAllAvailable() // replay
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getDate(0).toString, r.getLong(1)) ->
          r.toSeq.drop(2)).toMap
      import graft.operators.TimeSeries
      // nothing late yet: the watermarked face == batch, facts exactly once
      assert(m(StreamingTimeSeries.mergedWatermarkedRetention(spark, dir)) ==
        m(TimeSeries.retentionCohorts(early.toDF("u", "dt"),
          col("u"), col("dt"))))
      val grid0 = spark.read.parquet(s"$dir/user_weeks_wm")
      assert(grid0.count() == 6, "a duplicated fact was emitted twice")
      // jump to week 10: watermark moves to week 10 − 14 days; the next
      // batch processes under it and evicts the week 0-1 state rows
      input.addData(("u5", wk(10))): Unit; q.processAllAvailable()
      input.addData(("u6", wk(10))): Unit; q.processAllAvailable()
      val stateRows =
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 3,
        s"state holds $stateRows rows — weeks 0-1 facts were not evicted")
      // late-data policy: a week-0 fact now arrives BEYOND the horizon —
      // dropped, the closed cohort window never changes retroactively
      input.addData(("u9", wk(0))): Unit; q.processAllAvailable()
      val users = spark.read.parquet(s"$dir/user_weeks_wm")
        .select("__u").as[String].collect().toSet
      assert(!users.contains("u9"), "a beyond-horizon late fact leaked in")
      // and the readout still matches batch over the KEPT rows
      val kept = early ++ Seq(("u5", wk(10)), ("u6", wk(10)))
      assert(m(StreamingTimeSeries.mergedWatermarkedRetention(spark, dir)) ==
        m(TimeSeries.retentionCohorts(kept.toDF("u", "dt"),
          col("u"), col("dt"))))
    } finally q.stop()
  }

  test("streaming LM counts: cap-after-merge model == batch-trained, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.NgramLm
    val dir = java.nio.file.Files.createTempDirectory("lm_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lm_ckpt").toString
    val words = Seq("the", "cat", "sat", "on", "mat", "dog", "ran", "far")
    val rnd = new scala.util.Random(43)
    val refDocs = (0L until 120L).map(i =>
      (i, Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val q = StreamingTimeSeries.startLmCountsQuery(
      input.toDF().toDF("doc_id", "text"), "text", s"$dir/data", ckpt)
    try {
      input.addData(refDocs.take(25): _*); q.processAllAvailable()
      input.addData(refDocs.slice(25, 90): _*); q.processAllAvailable()
      input.addData(refDocs.drop(90): _*); q.processAllAvailable()
      // CAP SMALLER than the vocabulary so the retention boundary is
      // actually exercised by the merge
      val cap = 20
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val streamed = toMap(StreamingTimeSeries.mergedLmModel(
        spark, s"$dir/data", cap))
      val batchRef = refDocs.toDF("doc_id", "text")
      val batch = toMap(NgramLm.bigramCounts(batchRef, col("text"), cap))
      assert(streamed == batch,
        "stream-maintained LM diverged from the batch-trained model")
      // replay guard: re-append batch 1's deltas verbatim
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      assert(toMap(StreamingTimeSeries.mergedLmModel(spark, s"$dir/data",
        cap)) == batch, "a replayed micro-batch double-counted the LM")
    } finally q.stop()
  }

  test("streaming IVF-PQ appends: grown index == batch re-encode of the union; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.streaming.StreamingAnn
    val dir = java.nio.file.Files.createTempDirectory("ann_idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ann_ckpt").toString
    val rnd = new scala.util.Random(73)
    val d = 8
    def vec(c: Int) = Array.tabulate(d)(i =>
      (if (i % 4 == c % 4) 4.0 else 0.5) + rnd.nextGaussian() * 0.2)
    val seed = (0L until 60L).map(i => (i, vec(i.toInt)))
    val arriving = (100L until 160L).map(i => (i, vec(i.toInt)))
    val seedDf = seed.toDF("vec_id", "embedding")
    // frozen quantizers trained on the seed corpus only
    val cents = Similarity.trainCentroids(seedDf, k = 4, iters = 3)
    val cbs = Similarity.trainPqCodebooks(seedDf, d, m = 2, k = 4, iters = 3)
    Similarity.writeIvfPqIndex(
      Similarity.pqEncode(Similarity.ivfIndex(seedDf, cents), cbs),
      cents, cbs, s"$dir/idx")
    // stream the arrivals in two uneven micro-batches
    val input = MemoryStream[(Long, Array[Double])]
    val q = StreamingAnn.startIvfPqAppendQuery(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/idx", ckpt)
    try {
      input.addData(arriving.take(20): _*); q.processAllAvailable()
      input.addData(arriving.drop(20): _*); q.processAllAvailable()
      val queries = (0 until 10).map(i => (5000L + i, vec(i)))
        .toDF("qid", "qvec")
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val grown = m(StreamingAnn.searchGrownIndex(spark, s"$dir/idx",
        queries, k = 5, nProbe = 2))
      // batch reference: re-encode the UNION under the same frozen
      // quantizers and search it directly
      val unionDf = (seed ++ arriving).toDF("vec_id", "embedding")
      val ref = m(Similarity.ivfPqTopK(
        Similarity.pqEncode(Similarity.ivfIndex(unionDf, cents), cbs),
        queries, k = 5, cents, cbs, nProbe = 2))
      assert(grown == ref,
        "incrementally-grown index diverged from the batch re-encode")
      // at-least-once replay: re-deliver a batch verbatim; the
      // deterministic-encode dedup must collapse it
      Similarity.appendToIvfPqIndex(spark, s"$dir/idx",
        arriving.take(20).toDF("vec_id", "embedding")): Unit
      assert(m(StreamingAnn.searchGrownIndex(spark, s"$dir/idx",
        queries, 5, 2)) == ref,
        "a replayed append changed search results")
    } finally q.stop()
  }

  test("streaming covariance partials: merged model ~== one-shot fit; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cov_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cov_ckpt").toString
    val rnd = new scala.util.Random(79)
    val d = 6
    val all = (0 until 700).map(_ => Array.fill(d)(rnd.nextGaussian() * 2 + 1))
    val input = MemoryStream[Array[Double]]
    val q = StreamingTimeSeries.startCovarianceQuery(
      input.toDF().toDF("embedding"), "embedding", d, s"$dir/data", ckpt)
    try {
      input.addData(all.take(80): _*); q.processAllAvailable()
      input.addData(all.slice(80, 500): _*); q.processAllAvailable()
      input.addData(all.drop(500): _*); q.processAllAvailable()
      val streamed = StreamingTimeSeries.mergedCovariance(spark,
        s"$dir/data", d)
      val batch = graft.operators.Pca.covariance(
        all.map(Tuple1(_)).toDF("embedding"), col("embedding"), d)
      assert(streamed.n == batch.n)
      for (i <- 0 until d) {
        assert(math.abs(streamed.mean(i) - batch.mean(i)) < 1e-10)
        for (j <- 0 until d)
          assert(math.abs(streamed.cov(i)(j) - batch.cov(i)(j)) < 1e-10)
      }
      // at-least-once replay of batch 1 must collapse via the id guard
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      val afterReplay = StreamingTimeSeries.mergedCovariance(spark,
        s"$dir/data", d)
      assert(afterReplay.n == batch.n,
        "a replayed micro-batch double-counted into the covariance")
      // deterministic readout: two reads of the same table are identical
      val again = StreamingTimeSeries.mergedCovariance(spark, s"$dir/data", d)
      for (i <- 0 until d; j <- 0 until d)
        assert(again.cov(i)(j) == afterReplay.cov(i)(j))
    } finally q.stop()
  }

  test("streaming CMS: merged counters == one-shot batch sketch; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cms_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cms_ckpt").toString
    val rng = new scala.util.Random(67)
    // Zipf-ish keys so some counters collide and others stay empty
    val all = (0 until 1200).map(_ => s"k${rng.nextInt(rng.nextInt(200) + 1)}")
    val input = MemoryStream[String]
    val q = StreamingTimeSeries.startCmsQuery(
      input.toDF().toDF("k"), "k", s"$dir/data", ckpt, depth = 4, width = 64)
    try {
      input.addData(all.take(100): _*); q.processAllAvailable()
      input.addData(all.slice(100, 900): _*); q.processAllAvailable()
      input.addData(all.drop(900): _*); q.processAllAvailable()
      val probes = all.distinct.toDF("k")
      def est(s: graft.operators.Sketches.CmsSketch) =
        s.estimate(probes, col("k"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val streamed = est(StreamingTimeSeries.mergedCms(spark, s"$dir/data",
        depth = 4, width = 64))
      val batch = est(graft.operators.Sketches.countMinSketch(
        all.toDF("k"), col("k"), depth = 4, width = 64))
      assert(streamed == batch,
        "stream-maintained CMS diverged from the one-shot batch sketch")
      // upward-biased only: every estimate >= the true count
      val truth = all.groupBy(identity).view.mapValues(_.size.toLong)
      assert(truth.forall { case (k, n) => streamed(k) >= n })
      // at-least-once replay of batch 1 must collapse, not double-count
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      val afterReplay = est(StreamingTimeSeries.mergedCms(spark,
        s"$dir/data", depth = 4, width = 64))
      assert(afterReplay == batch,
        "a replayed micro-batch double-counted into the CMS counters")
    } finally q.stop()
  }

  test("streaming welch partials: merged batches == one-shot welchT, bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("welch_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("welch_ckpt").toString
    val rng = new scala.util.Random(53)
    val all = (0 until 800).map { i =>
      val coh = i % 2 == 0
      (s"g${i % 3}", (rng.nextInt(40) + (if (coh) 5 else 0)).toLong,
        if (coh) "A" else "B")
    }
    val input = MemoryStream[(String, Long, String)]
    val q = StreamingTimeSeries.startWelchPartialsQuery(
      input.toDF().toDF("g", "x", "cohort"), "g", "x", "cohort = 'A'",
      s"$dir/data", ckpt)
    try {
      input.addData(all.take(90): _*); q.processAllAvailable()
      input.addData(all.slice(90, 650): _*); q.processAllAvailable()
      input.addData(all.drop(650): _*); q.processAllAvailable()
      val streamed = StreamingTimeSeries.mergedWelch(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.operators.Stats.welchT(
          all.toDF("g", "x", "cohort"), Seq(col("g")), col("x"),
          col("cohort") === "A")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(streamed == batch,
        "stream-maintained Welch diverged from one-shot batch welchT")
      // at-least-once replay of batch 1 must collapse, not double-count
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      val afterReplay = StreamingTimeSeries.mergedWelch(spark, s"$dir/data", "g")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(afterReplay == batch,
        "a replayed micro-batch double-counted into the Welch partials")
    } finally q.stop()
  }

  test("streaming quantile sketch: merged batches == one-shot batch sketch; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("qsketch_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qsketch_ckpt").toString
    val rng = new scala.util.Random(47)
    // values spanning several decades so bucket layout is exercised
    val all = (0 until 900).map(i =>
      (s"g${i % 3}", math.abs(rng.nextLong() % 500000L).toDouble / 100.0))
    val input = MemoryStream[(String, Double)]
    val qs = Seq(0.5, 0.9, 0.99)
    val q = StreamingTimeSeries.startQuantileSketchQuery(
      input.toDF().toDF("g", "v"), "g", "v", s"$dir/data", ckpt)
    try {
      input.addData(all.take(250): _*); q.processAllAvailable()
      input.addData(all.slice(250, 600): _*); q.processAllAvailable()
      input.addData(all.drop(600): _*); q.processAllAvailable()
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect()
          .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val streamed = toMap(
        StreamingTimeSeries.mergedQuantiles(spark, s"$dir/data", "g", qs))
      val batch = toMap(graft.operators.Sketches
        .quantileSketch(all.toDF("g", "v"), Seq(col("g")), col("v"))
        .quantiles(qs))
      assert(streamed == batch,
        "stream-maintained quantiles diverged from the one-shot batch sketch")
      // at-least-once replay: re-append batch 1's bucket rows verbatim —
      // counter addition is not idempotent, so the reader must collapse
      // them by (group, bucket, batch_id), not double-count
      val b1 = spark.read.parquet(s"$dir/data").filter(col("batch_id") === 1L)
      b1.write.mode("append").parquet(s"$dir/data")
      val afterReplay = toMap(
        StreamingTimeSeries.mergedQuantiles(spark, s"$dir/data", "g", qs))
      assert(afterReplay == batch,
        "a replayed micro-batch double-counted into the quantile histogram")
    } finally q.stop()
  }

  test("streaming top-k + KMV: merged batches == one-shot batch; replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("topk_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("topk_ckpt").toString
    val kdir = java.nio.file.Files.createTempDirectory("kmv_sink").toString
    val kckpt = java.nio.file.Files.createTempDirectory("kmv_ckpt").toString
    val rng = new scala.util.Random(53)
    // duplicate values across batches so the KMV distinct path matters
    val all = (0 until 900).map(i =>
      (s"g${i % 3}", rng.nextInt(200).toDouble, i.toLong))
    val input = MemoryStream[(String, Double, Long)]
    val kin = MemoryStream[(String, Double, Long)]
    val q = StreamingTimeSeries.startTopKQuery(
      input.toDF().toDF("g", "v", "id"), "g", "v", "id", 5, s"$dir/data", ckpt)
    val kq = StreamingTimeSeries.startKmvSketchQuery(
      kin.toDF().toDF("g", "v", "id"), "g", "v", s"$kdir/data", kckpt, k = 32)
    try {
      Seq(all.take(300), all.slice(300, 700), all.drop(700)).foreach { b =>
        input.addData(b: _*); kin.addData(b: _*)
        q.processAllAvailable(); kq.processAllAvailable()
      }
      def topkMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getDouble(2), r.getLong(3)))).toMap
      val streamed = topkMap(
        StreamingTimeSeries.mergedTopK(spark, s"$dir/data", "g", 5))
      val batch = topkMap(graft.operators.Ranks.topKPerGroup(
        all.toDF("g", "v", "id"), Seq("g"), col("v"), col("id"), 5))
      assert(streamed == batch,
        "stream-maintained top-k diverged from the one-shot batch top-k")
      def kmvMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val kStreamed = kmvMap(
        StreamingTimeSeries.mergedKmvDistinct(spark, s"$kdir/data", k = 32))
      val kBatch = kmvMap(graft.operators.Sketches
        .kmvSketch(all.toDF("g", "v", "id"), Seq("g"), col("v"), k = 32)
        .estimate)
      assert(kStreamed == kBatch,
        "stream-maintained KMV diverged from the one-shot batch sketch")
      // at-least-once replay: re-append EVERYTHING verbatim — both
      // readouts must be idempotent via distinct-merge, with no
      // batch-id bookkeeping at all
      spark.read.parquet(s"$dir/data").write.mode("append")
        .parquet(s"$dir/data")
      spark.read.parquet(s"$kdir/data").write.mode("append")
        .parquet(s"$kdir/data")
      assert(topkMap(StreamingTimeSeries.mergedTopK(
        spark, s"$dir/data", "g", 5)) == batch,
        "replayed top-k candidates changed the readout")
      assert(kmvMap(StreamingTimeSeries.mergedKmvDistinct(
        spark, s"$kdir/data", k = 32)) == kBatch,
        "replayed KMV mins changed the estimate")
    } finally { q.stop(); kq.stop() }
  }

  test("stream-stream interval join matches the batch join on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val vRows = Seq(
      (t("2021-01-05 10:00:00"), 1L), (t("2021-01-05 10:40:00"), 1L),
      (t("2021-01-05 08:00:00"), 1L), // outside the 1h band — no match
      (t("2021-01-05 10:30:00"), 2L)) // user with no purchase
    val bRows = Seq((t("2021-01-05 11:00:00"), 1L),
      (t("2021-01-05 11:30:00"), 3L)) // purchase with no views
    val views = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = StreamingTimeSeries.intervalJoin(
      views.toDF().toDF("view_ts", "user_id"), "view_ts",
      buys.toDF().toDF("buy_ts", "user_id"), "buy_ts",
      "user_id", maxDelay = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssij")
      .outputMode("append").start()
    try {
      views.addData(vRows.take(2): _*); buys.addData(bRows.head)
      q.processAllAvailable()
      views.addData(vRows.drop(2): _*); buys.addData(bRows(1))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getLong(1), r.getTimestamp(2))
      val streamed = spark.table("ssij").collect().map(key).toSet
      // withWatermark is a no-op on batch frames, so the SAME operator is
      // its own batch face
      val batch = StreamingTimeSeries.intervalJoin(
        vRows.toDF("view_ts", "user_id"), "view_ts",
        bRows.toDF("buy_ts", "user_id"), "buy_ts",
        "user_id", maxDelay = "1 hour").collect().map(key).toSet
      assert(streamed == batch)
      assert(streamed == Set(
        (t("2021-01-05 10:00:00"), 1L, t("2021-01-05 11:00:00")),
        (t("2021-01-05 10:40:00"), 1L, t("2021-01-05 11:00:00"))))
    } finally q.stop()
  }

  test("streamingCurate: gate, dedup-across-batches, chunk, split — at ingestion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (1 to 30).map(i => s"w$i the and of to in is that").mkString(" ")
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = StreamingTimeSeries.streamingCurate(
        input.toDF().toDF("ts", "doc_id", "text"),
        "ts", "doc_id", "text", maxTokens = 64, overlap = 8, minQuality = 0.6)
      .select("id", "chunk_idx", "split")
      .writeStream.outputMode("append").format("memory")
      .queryName("curate_stream_test").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2021-01-01 10:00:00"), 1L, good),
        (t("2021-01-01 10:01:00"), 2L, "### !!! ;;;")) // gated out
      out.processAllAvailable()
      input.addData((t("2021-01-02 09:00:00"), 3L, good)) // exact dup of 1 → dropped
      out.processAllAvailable()
      val rows = spark.table("curate_stream_test").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      assert(rows.map(_._1).distinct.toSeq == Seq(1L)) // only doc 1 survives
      // 240 tokens → ceil((240-8)/56) = 5 chunks, all one split label
      assert(rows.length == 5 && rows.map(_._3).distinct.length == 1)
    } finally out.stop()
  }

  test("mapGroupsWithState keeps running per-key counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = StreamingTimeSeries.runningCounts(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("running_test").start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 3L))
      out.processAllAvailable()
      input.addData(("a", 4L))
      out.processAllAvailable()
      val counts = spark.table("running_test")
        .groupBy("key").agg(max("count").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("a" -> 3L, "b" -> 1L))
    } finally out.stop()
  }

  test("streaming decontamination drops gram-sharing docs and agrees with the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "totally unrelated words in this training document here"))
    val input = MemoryStream[(Long, String)]
    val stream = StreamingTimeSeries.streamingDecontaminate(
      input.toDF().toDF("doc_id", "text"), "text", bench, col("text"), k = 8)
    val q = stream.writeStream.format("memory").queryName("decon_test")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("decon_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val batch = graft.operators.Curation.decontaminate(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
          bench, col("text"), k = 8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == Set(2L))
      assert(streamed == batch) // ingestion-time == batch decontamination
    } finally q.stop()
  }

  test("streaming quantile-sketch partials: per-batch appends == whole-corpus sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the summary-table pattern the sketch's mergeability exists for: each
    // micro-batch reduces to its own bucket partials, appended to a
    // summary table; quantiles are answered from a re-aggregation of the
    // partials — history is never rescanned, and the result must equal
    // the sketch built from the whole corpus in one pass
    val dir = "/tmp/graft_stream_qsketch"
    val f = new java.io.File(dir)
    if (f.exists()) java.nio.file.Files.walk(f.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    val batch1 = (1 to 700).map(i => ("a", i * 1.13)) ++
      (1 to 300).map(i => ("b", i * 7.7))
    val batch2 = (701 to 1000).map(i => ("a", i * 1.13)) ++
      (301 to 900).map(i => ("b", i * 7.7))
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("g", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Sketches
          .quantileSketch(df, Seq(col("g")), col("v")).buckets
          .write.mode("append").parquet(dir)
      }
      .start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val fromPartials = graft.operators.Sketches.QuantileSketch(
      spark.read.parquet(dir).groupBy("g", "bucket", "lb")
        .agg(sum("cnt").as("cnt")),
      scale = 2, groupCols = Seq("g"))
    val whole = graft.operators.Sketches.quantileSketch(
      (batch1 ++ batch2).toDF("g", "v"), Seq(col("g")), col("v"))
    def bm(s: graft.operators.Sketches.QuantileSketch) = s.buckets.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(bm(fromPartials) == bm(whole),
      "appended per-batch partials must re-aggregate to the whole sketch")
    def qs(s: graft.operators.Sketches.QuantileSketch) =
      s.quantiles(Seq(0.5, 0.9, 0.99)).collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(qs(fromPartials) == qs(whole))
  }

  test("batch sessionize: gaps split sessions exactly at the timeout") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (t("2021-01-01 10:00:00"), 1L, 1.0),
      (t("2021-01-01 10:29:59"), 1L, 2.0), // 29:59 gap → same session
      (t("2021-01-01 11:00:00"), 1L, 3.0), // 30:01 gap → new session
      (t("2021-01-01 11:30:00"), 1L, 4.0), // exactly 30:00 → SAME session
      // (empirically matches session_window: its windows DO merge when
      // they touch — the boundary pair in the parity test below proves it)
      (t("2021-01-01 10:00:00"), 2L, 5.0))
      .toDF("ts", "user_id", "value")
    val out = graft.operators.Sessions.sessionStats(ev, Seq("user_id"), "ts",
        maxGapSeconds = 1800, valueCol = col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(out == Map(
      (1L, 0L) -> ((2L, 3.0)),
      (1L, 1L) -> ((2L, 7.0)),
      (2L, 0L) -> ((1L, 5.0))))
  }

  test("streaming session_window produces the same sessions as batch sessionize") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (t("2021-01-01 10:00:00"), 1L), (t("2021-01-01 10:20:00"), 1L),
      (t("2021-01-01 11:10:00"), 1L), (t("2021-01-01 09:00:00"), 2L),
      (t("2021-01-01 09:10:00"), 2L), (t("2021-01-01 12:00:00"), 2L),
      // exactly-boundary pair: 30:00 apart — both faces must MERGE here
      // (session_window merges touching windows; sessionize's strict
      // gap > maxGap split mirrors that, proven by this fixture)
      (t("2021-01-01 14:00:00"), 3L), (t("2021-01-01 14:30:00"), 3L))
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val q = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("session_test").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("session_test").collect()
        .map(r => (r.getLong(1), r.getTimestamp(0).toString) -> r.getLong(2)).toMap
      val batch = graft.operators.Sessions.sessionStats(
          rows.toDF("ts", "user_id").withColumn("value", lit(0.0)),
          Seq("user_id"), "ts", maxGapSeconds = 1800, valueCol = col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(3).toString) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream $streamed vs batch $batch") // same starts, same counts
    } finally q.stop()
  }

  test("kill-and-restart: weekly state survives the checkpoint with no dup/loss (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val target = "/tmp/graft_stream_restart_target"
    val ckpt = "/tmp/graft_stream_restart_ckpt"
    for (d <- Seq(target, ckpt)) {
      val f = new java.io.File(d)
      if (f.exists()) java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    // ---- first incarnation: one batch, then a hard stop
    val q1 = StreamingTimeSeries.startWeeklyParquetQuery(df, "ts", "event_type", target, ckpt)
    try {
      input.addData((t("2021-01-03 10:00:00"), "purchase"))
      q1.processAllAvailable()
    } finally q1.stop() // kill: state + committed offsets live only in ckpt
    // ---- second incarnation: same checkpoint, new data, SAME source
    // (MemoryStream retains its log, so the restarted query resumes from
    // the committed offset — uncommitted rows replay exactly once)
    input.addData((t("2021-01-05 11:00:00"), "purchase"),
      (t("2021-01-12 09:00:00"), "signup"))
    val q2 = StreamingTimeSeries.startWeeklyParquetQuery(df, "ts", "event_type", target, ckpt)
    try {
      q2.processAllAvailable()
      val latest = StreamingTimeSeries.latestWeekly(spark, target)
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      // purchase == 2 proves pre-restart state was recovered (no loss) AND
      // the pre-restart row was not replayed (no dup → not 3); exactly one
      // signup row proves the post-restart batch processed once.
      assert(latest == Map(
        ("2021-01-03", "purchase") -> 2L,
        ("2021-01-10", "signup") -> 1L), s"after restart: $latest")
    } finally {
      q2.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("merged Jonckheere-Terpstra: third readout of the level_values store == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("jt_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("jt_ckpt").toString
    val rng = new scala.util.Random(151)
    // ordered dose 0..3 with a genuine upward shift, heavy ties
    val all = (0 until 500).map { i =>
      val l = (i % 4).toLong
      ("g" + (i % 2), l, (rng.nextInt(8) + l).toDouble)
    }
    val input = MemoryStream[(String, Long, Double)]
    val q = StreamingTimeSeries.startLevelCountsQuery(
      input.toDF().toDF("g", "l", "x"), "g", "l", "x", dir, ckpt)
    try {
      input.addData(all.take(90): _*); q.processAllAvailable()
      input.addData(all.drop(90): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      import graft.operators.Stats
      val want = m(Stats.jonckheereTerpstra(all.toDF("g", "l", "x"),
        Seq(col("g")), col("l"), col("x")))
      assert(m(StreamingTimeSeries.mergedJonckheere(spark, dir, "g"))
        == want)
      // the shifted dose must register as a positive trend
      val z = Stats.jonckheereTerpstra(all.toDF("g", "l", "x"),
        Seq(col("g")), col("l"), col("x")).collect()
        .map(_.getAs[Double]("z"))
      assert(z.forall(_ > 3.0))
      // at-least-once replay collapses
      spark.read.parquet(s"$dir/level_values")
        .filter(col("batch_id") === 0L)
        .write.mode("append").parquet(s"$dir/level_values")
      assert(m(StreamingTimeSeries.mergedJonckheere(spark, dir, "g"))
        == want, "a replayed micro-batch double-counted into JT")
    } finally q.stop()
  }

  test("erMaintenance: readout bit-identical before/after, files shrink, next ingest rides the compacted store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("erm_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("erm_ckpt").toString
    val vocab = (0 until 480).map(i => s"w${i}q${(i * 2654435761L) % 97}")
    def text(i: Int): String =
      (0 until 12).map(k => vocab((i % 30) * 12 + k)).mkString(" ")
    val baseRecs = (0 until 30).map(i =>
      (i.toLong, text(i), s"l${i % 3}", s"s${i % 2}", 100L + i))
    val twins = (0 until 15).map(i =>
      (i + 1000L, text(i) + " appended", s"l${i % 3}", s"s${i % 2}",
        109L + i))
    val all = baseRecs ++ twins
    val weights = Seq(("lang", 2.0, -2.0), ("len", 2.0, -2.0),
      ("source", 2.0, -2.0)).toDF("field", "w_agree", "w_disagree")
    val fields = Seq(
      "lang" -> (col("a_lang") === col("b_lang")),
      "len" -> (abs(col("a_len") - col("b_len")) <= 20L),
      "source" -> (col("a_src") === col("b_src")))
    val input = MemoryStream[(Long, String, String, String, Long)]
    val stream = input.toDF().toDF("id", "text", "lang", "src", "len")
    val q = StreamingEntityResolution.startErIngestQuery(stream, "id",
      "text", Seq("lang", "len", "src"), fields, weights,
      threshold = 0.0, base, ckpt, maxBucket = 10000)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/$sub"))
        .count(f => f.getPath.getName.endsWith(".parquet"))
    try {
      // several small batches so every store accretes file sets
      Seq(all.take(12), all.slice(12, 24), all.slice(24, 36),
        all.drop(36)).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    def readout() = StreamingEntityResolution.mergedEntities(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = readout()
    val filesBefore = Seq("er_records", "er_keys", "er_edges").map(files)
    val res = StreamingEntityResolution.erMaintenance(spark, base)
    assert(res.size == 3)
    res.foreach { r => assert(r.rowsAfter <= r.rowsBefore, r.toString) }
    val filesAfter = Seq("er_records", "er_keys", "er_edges").map(files)
    assert(filesAfter.zip(filesBefore).forall { case (a, b) => a <= b })
    assert(filesAfter.forall(_ == 1),
      s"each compacted store should land in one file: $filesAfter")
    assert(readout() == before,
      "maintenance changed the entity readout")
    // ingest once more directly on the compacted store: a NEW twin of
    // record 20 must link to it through the compacted er_keys scan
    val nextBatch = Seq((2000L, text(20) + " appended", "l2", "s0",
      129L)).toDF("id", "text", "lang", "src", "len")
    val frozenW = weights.collect().toSeq
    StreamingEntityResolution.ingestBatch(nextBatch, 99L, "id", "text",
      Seq("lang", "len", "src"), fields, frozenW, 0.0, base,
      3, 24, 8, 10000, graft.operators.Dedup.XxMinhash)
    val after = readout()
    assert(after(2000L) == 20L,
      s"post-maintenance ingest failed to link the new twin: $after")
    assert(before.forall { case (k, v) => after(k) == v },
      "post-maintenance ingest disturbed existing entities")
  }

  test("merged group-sequential readout == batch test over per-look arm-count deltas") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gs_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gs_ckpt").toString
    // 4 looks of a real uplift: treated converts 60%, control 40%
    val all = (1 to 4).flatMap { look =>
      (1 to 200).map { i =>
        val arm = i % 2 == 0
        ("g", look, arm, if (arm) (i % 10) < 6 else (i % 10) < 4)
      }
    }
    val input = MemoryStream[(String, Int, Boolean, Boolean)]
    val q = StreamingTimeSeries.startArmCountsByLookQuery(
      input.toDF().toDF("g", "look", "arm", "conv"), "g", "look",
      "arm", "conv", dir, ckpt)
    try {
      input.addData(all.take(300): _*); q.processAllAvailable()
      input.addData(all.drop(300): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Int]("look") -> r.toSeq).toMap
      import graft.operators.Stats
      val want = m(Stats.groupSequentialTest(all.toDF("g", "look",
        "arm", "conv"), Seq("g"), col("look"), col("arm"), col("conv"),
        looks = 4, kind = "obf"))
      assert(m(StreamingTimeSeries.mergedGroupSequential(spark, dir,
        "g", looks = 4, kind = "obf")) == want)
      // replay collapses
      spark.read.parquet(s"$dir/arm_counts_by_look")
        .filter(col("batch_id") === 0L)
        .write.mode("append").parquet(s"$dir/arm_counts_by_look")
      assert(m(StreamingTimeSeries.mergedGroupSequential(spark, dir,
        "g", looks = 4, kind = "obf")) == want,
        "replayed per-look deltas double-counted")
    } finally q.stop()
  }

  test("merged survival calibration (frozen edges) == batch frozen-bins face; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cal_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cal_ckpt").toString
    val rng = new scala.util.Random(163)
    val all = (0 until 400).map { i =>
      ("g" + (i % 2), (rng.nextInt(20) + 1).toDouble, rng.nextInt(3) != 0,
        rng.nextInt(100) / 100.0)
    }
    val edges = Seq(0.25, 0.5, 0.75)
    val input = MemoryStream[(String, Double, Boolean, Double)]
    val q = StreamingTimeSeries.startCalibrationCountsQuery(
      input.toDF().toDF("g", "dur", "ev", "pred"), "g", "dur", "ev",
      "pred", edges, dir, ckpt)
    try {
      input.addData(all.take(90): _*); q.processAllAvailable()
      input.addData(all.drop(90): _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getAs[Int]("bin")) ->
          r.toSeq.drop(2)).toMap
      import graft.operators.Concordance
      val want = m(Concordance.survivalCalibrationFromCounts(
        Concordance.calibrationCounts(all.toDF("g", "dur", "ev", "pred"),
          Seq("g"), col("dur"), col("ev"), col("pred"), edges),
        Seq("g"), horizon = 10.0))
      assert(m(StreamingTimeSeries.mergedSurvivalCalibration(spark, dir,
        "g", horizon = 10.0)) == want)
      // replay collapses
      spark.read.parquet(s"$dir/calibration_counts")
        .filter(col("batch_id") === 0L)
        .write.mode("append").parquet(s"$dir/calibration_counts")
      assert(m(StreamingTimeSeries.mergedSurvivalCalibration(spark, dir,
        "g", horizon = 10.0)) == want,
        "replayed calibration deltas double-counted")
    } finally q.stop()
  }

  test("merged conditional survival reads the SAME survival_counts store as KM") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cs_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs_ckpt").toString
    val rng = new scala.util.Random(167)
    val all = (0 until 300).map { i =>
      ("g" + (i % 2), (rng.nextInt(15) + 1).toDouble, rng.nextInt(4) != 0)
    }
    val input = MemoryStream[(String, Double, Boolean)]
    val q = StreamingTimeSeries.startSurvivalCountsQuery(
      input.toDF().toDF("g", "dur", "ev"), "g", "dur", "ev", dir, ckpt)
    try {
      input.addData(all.take(120): _*); q.processAllAvailable()
      input.addData(all.drop(120): _*); q.processAllAvailable()
      val pairs = Seq((4.0, 3.0), (8.0, 4.0))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getAs[Double]("t0"),
          r.getAs[Double]("s")) -> r.toSeq.drop(3)).toMap
      import graft.operators.Concordance
      val want = m(Concordance.conditionalSurvival(
        all.toDF("g", "dur", "ev"), Seq("g"), col("dur"), col("ev"),
        pairs))
      assert(m(StreamingTimeSeries.mergedConditionalSurvival(spark, dir,
        "g", pairs)) == want)
    } finally q.stop()
  }
}
