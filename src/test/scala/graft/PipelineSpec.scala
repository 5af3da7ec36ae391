package graft

import graft.operators.{Reports, VariantCalling}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Whole-pipeline acceptance: raw FASTA → filter/dedup, then MSA →
  * reports + weekly matrices, exercising every stage a reference user
  * runs (`/root/reference/README.md` flow). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("pipeline-spec")

  override def afterAll(): Unit = spark.stop()

  test("prepare: filter + in-engine dedup from raw FASTA") {
    val fasta = new StringBuilder
    def rec(protein: String, acc: String, host: String, seq: String): Unit =
      fasta.append(s">$protein|iso/$acc|2021-01-01|$acc|o|l|$host\n$seq\n")
    rec("Spike", "EPI_1", "Human", "MFVFLVLLP")
    rec("Spike", "EPI_2", "Human", "MFVFLVLLP") // exact dup of EPI_1
    rec("Spike", "EPI_3", "Human", "MXXXXXXLP") // too ambiguous
    rec("Spike", "EPI_4", "Bat", "MFVFLVLLP") // wrong host
    rec("Spike", "EPI_5", "Human", "MF") // too short
    rec("NSP5", "EPI_6", "Human", "SGFRKMAFP")
    val in = "/tmp/graft_pipe_in.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in), fasta.toString)

    val out = "/tmp/graft_pipe_out"
    val filtered = Pipeline.prepare(spark, in, out,
      refLenByProtein = Map("Spike" -> 9, "NSP5" -> 9),
      lengthDelta = 3, ambiguityCutoff = 0.1)
    assert(filtered.select("accession").collect().map(_.getString(0)).sorted
      .toSeq == Seq("EPI_1", "EPI_2", "EPI_6"))

    val clusters = spark.read.option("header", "true")
      .csv(s"$out/clusters")
    val sizes = clusters.collect()
      .map(r => r.getAs[String]("cluster_id") -> r.getAs[String]("cluster_size")).toMap
    assert(sizes("Uniq1") == "2") // EPI_1+EPI_2 dedup'd
    // partitioned FASTA written per protein
    assert(new java.io.File(s"$out/filtered/protein=Spike").exists())

    // A15: stage counts over the actual pipeline outputs — all FIVE
    // reference stages (Sequence_Counter.py's contract)
    import spark.implicits._
    val metaLinked = Seq(
      ("EPI_1", "Uniq1", "2021-01-03"), ("EPI_2", "Uniq1", "2021-01-05"),
      ("EPI_6", "Uniq2", "2021-01-12"))
      .toDF("accession", "cluster_id", "date")
    val matrix = Seq( // three weeks; trimming drops the first and last
      ("Worldwide", "2021-01-03", "A1B", 1L, 10L),
      ("Worldwide", "2021-01-10", "A1B", 2L, 20L),
      ("Worldwide", "2021-01-17", "A1B", 1L, 30L),
      ("Europe", "2021-01-10", "A1B", 2L, 99L)) // other region: excluded
      .toDF("region", "week_start", "code", "freq", "total_genomes")
    val stages = Pipeline.stageCounts(spark, in, out,
        metaWithVariants = Map("Spike" -> metaLinked),
        weeklyMatrix = Map("Spike" -> matrix),
        trimHead = 1, trimTail = 1).collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("*")) ->
        r.getLong(2)).toMap
    assert(stages(("1_raw", "*")) == 6L)
    assert(stages(("2_filtered", "Spike")) == 2L)
    assert(stages(("2_filtered", "NSP5")) == 1L)
    assert(stages(("3_cluster_sizes", "*")) == 3L) // Σ sizes == filtered rows
    assert(stages(("4_meta_linked", "Spike")) == 3L)
    assert(stages(("5_ts_total", "Spike")) == 20L) // middle week only
  }

  test("analyzeMsa: reports + weekly matrix from an aligned MSA") {
    import spark.implicits._
    val msa =
      """>clust0;size=1;
        |MFVFLVLLPL-VSS
        |>Uniq1;size=5;
        |MLVFLVLLPL-VSS
        |>Uniq2;size=3;
        |MF--LVLLPL-VSS
        |>Uniq3;size=2;
        |MFVFLVLLPLKVSS
        |""".stripMargin
    val msaPath = "/tmp/graft_pipe_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath), msa)

    val clusterMap = Seq(
      ("WIV04-ref", "clust0"), ("EPI_1", "Uniq1"), ("EPI_2", "Uniq1"),
      ("EPI_3", "Uniq2"), ("EPI_4", "Uniq3"))
      .toDF("accession", "cluster_id")
    val meta = Seq(
      ("EPI_1", "2021-01-03", "Europe"), ("EPI_2", "2021-01-05", "Asia"),
      ("EPI_3", "2021-01-12", "Europe"), ("EPI_4", "2021-01-13", "Asia"))
      .toDF("accession", "date", "region")

    val out = "/tmp/graft_pipe_msa_out"
    Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref", meta, clusterMap, out)

    val byCode = spark.read.option("header", "true").csv(s"$out/all_by_code")
      .collect().map(r => r.getAs[String]("Code") -> r.getAs[String]("Percentage")).toMap
    assert(byCode("F2L") == "45.4545%") // 5 of 11 sequences
    val weekly = spark.read.option("header", "true").csv(s"$out/weekly_matrix")
    assert(weekly.filter(col("region") === "Worldwide" && col("code") === "F2L")
      .head().getAs[String]("freq") == "2")
    val perPos = spark.read.option("header", "true").csv(s"$out/per_position")
    assert(perPos.count() == 13) // dense over the ungapped reference length
    // stage 8b: the styled heatmap table (S10) rides along — a real xlsx
    // whose sheet holds the Worldwide share matrix
    val zf = new java.util.zip.ZipFile(s"$out/heatmap_table.xlsx")
    try {
      val sheet = new String(zf.getInputStream(
        zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      assert(sheet.contains("F2L") && sheet.contains("colorScale"))
    } finally zf.close()
  }

  /** Tiny FASTA under `prepare`'s header layout
    * (`>protein|iso/acc|date|acc|o|l|host`). */
  private def writeFasta(path: String, recs: Seq[(String, String, String)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), recs.map {
      case (protein, acc, seq) => s">$protein|iso/$acc|2021-01-01|$acc|o|l|Human\n$seq\n"
    }.mkString)

  test("stageCounts: a numeric-looking protein partition stays a string") {
    val in = "/tmp/graft_pipe_numeric.fasta"
    writeFasta(in, Seq(("7", "EPI_1", "MFVFLVLLP"), ("7", "EPI_2", "MFVFLVLLQ"),
      ("07", "EPI_3", "SGFRKMAFP")))
    val out = "/tmp/graft_pipe_numeric_out"
    Pipeline.prepare(spark, in, out, refLenByProtein = Map("7" -> 9, "07" -> 9),
      lengthDelta = 3, ambiguityCutoff = 0.1)
    val filtered = Pipeline.stageCounts(spark, in, out).collect()
      .filter(_.getString(0) == "2_filtered")
      .map(r => r.get(1) -> r.getLong(2)).toMap
    // "7" and "07" would both become the integer 7 under type inference
    assert(filtered == Map[Any, Long]("7" -> 2L, "07" -> 1L))
  }

  test("stageCounts: fails by name when the filtered stage holds no partitions") {
    val in = "/tmp/graft_pipe_nopart.fasta"
    writeFasta(in, Seq(("Spike", "EPI_1", "MFVFLVLLP")))
    val out = "/tmp/graft_pipe_nopart_out"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val missing = intercept[IllegalArgumentException](
      Pipeline.stageCounts(spark, in, out))
    assert(missing.getMessage.contains(s"no filtered partitions under $out/filtered"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/filtered"))
    val empty = intercept[IllegalArgumentException](
      Pipeline.stageCounts(spark, in, out))
    assert(empty.getMessage.contains(s"no filtered partitions under $out/filtered"))
  }

  test("analyzeMsa: heatmap and PyMOL bands equal the in-plan products") {
    import spark.implicits._
    val alignedRef = "MFVFLVLLPL-VSS"
    val msa =
      s""">clust0;size=2;
         |$alignedRef
         |>Uniq1;size=5;
         |MLVFLVLLPL-VSS
         |>Uniq2;size=3;
         |MF--LVLLPL-VSS
         |>Uniq3;size=2;
         |MFVFLVLLPLKVSS
         |>Uniq4;size=1;
         |MFVFLVLLPL-VSA
         |""".stripMargin
    val msaPath = "/tmp/graft_pipe_readback_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath), msa)
    val clusterMap = Seq(
      ("WIV04-ref", "clust0"), ("EPI_0", "clust0"), ("EPI_1", "Uniq1"),
      ("EPI_2", "Uniq1"), ("EPI_3", "Uniq2"), ("EPI_4", "Uniq2"),
      ("EPI_5", "Uniq3"), ("EPI_6", "Uniq3"))
      .toDF("accession", "cluster_id")
    val meta = Seq( // three weeks, shares of thirds and halves
      ("EPI_0", "2021-01-03", "Europe"), ("EPI_1", "2021-01-04", "Asia"),
      ("EPI_2", "2021-01-05", "Europe"), ("EPI_3", "2021-01-12", "Europe"),
      ("EPI_4", "2021-01-13", "Asia"), ("EPI_5", "2021-01-13", "Asia"),
      ("EPI_6", "2021-01-19", "Africa"))
      .toDF("accession", "date", "region")
    val out = "/tmp/graft_pipe_readback_out"
    Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref", meta, clusterMap, out)

    // every heatmap cell is the Worldwide share of weekly_matrix, bit for bit
    val wm = spark.read.option("header", "true").schema(
      "region STRING, week_start DATE, code STRING, freq LONG, " +
        "total_genomes LONG, zero_mutations LONG, share DOUBLE")
      .csv(s"$out/weekly_matrix").filter(col("region") === "Worldwide").collect()
    val shares = wm.map(r => (r.getAs[String]("code"),
      r.getAs[java.sql.Date]("week_start").toString) -> r.getAs[Double]("share")).toMap
    val weeks = shares.keys.map(_._2).toSeq.distinct.sorted
    assert(weeks.size == 3)
    val zf = new java.util.zip.ZipFile(s"$out/heatmap_table.xlsx")
    val sheet = try new String(zf.getInputStream(
      zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      finally zf.close()
    val rows = "<row r=\"\\d+\">(.*?)</row>".r.findAllMatchIn(sheet)
      .map(_.group(1)).toSeq
    val cell = "<c r=\"[A-Z]+\\d+\"[^>]*?(?:/>|>(?:<is><t>(.*?)</t></is>|<v>(.*?)</v>)</c>)".r
    def cells(row: String): Seq[String] = cell.findAllMatchIn(row)
      .map(m => Option(m.group(1)).orElse(Option(m.group(2))).orNull).toSeq
    assert(cells(rows.head) == "code" +: weeks)
    val heat = rows.tail.map(cells).map(cs => cs.head -> cs.tail.map(_.toDouble)).toMap
    assert(heat.keySet == shares.keys.map(_._1).toSet)
    heat.foreach { case (code, vs) =>
      assert(vs == weeks.map(w => shares.getOrElse((code, w), 0.0)), code)
    }

    // the PyMOL bands equal the in-plan pymolStrings(perPositionTable(...))
    val aligned = VariantCalling.readMsa(spark, msaPath)
    val events = VariantCalling.callAll(aligned, alignedRef)
      .filter(col("clusterId") =!= "clust0")
    val inPlan = Reports.pymolStrings(
      Reports.perPositionTable(events, alignedRef.replace("-", ""), 13L))
      .collect().map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSeq
    assert(inPlan.exists(_.head == null)) // a count-of-1 residue: no band
    val written = spark.read.option("header", "true").csv(s"$out/pymol")
      .collect().map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSeq
    assert(written == inPlan)
  }

  test("analyzeMsa: a failing run releases the cached events") {
    // an all-gap reference row makes the caller throw on the first action
    // over the (already cached) events
    val msa =
      """>clust0;size=1;
        |---
        |>Uniq1;size=2;
        |MF-
        |""".stripMargin
    val msaPath = "/tmp/graft_pipe_failing_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath), msa)
    import spark.implicits._
    val clusterMap = Seq(("WIV04-ref", "clust0"), ("EPI_1", "Uniq1"))
      .toDF("accession", "cluster_id")
    val meta = Seq(("EPI_1", "2021-01-03", "Europe")).toDF("accession", "date", "region")
    assert(spark.sharedState.cacheManager.isEmpty)
    val e = intercept[Exception](Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref",
      meta, clusterMap, "/tmp/graft_pipe_failing_out"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("all-gap reference row")))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("analyzeMsa: the variant caller runs one task per MSA split") {
    import spark.implicits._
    // a seeded 61-cluster alignment, ~14 kB: 4 kB splits cut it in several
    val rng = new scala.util.Random(11)
    val aa = "ACDEFGHIKLMNPQRSTVWY"
    val ref = Array.fill(200)(aa(rng.nextInt(aa.length)))
    val msa = new StringBuilder(s">clust0;size=1;\n${ref.mkString}\n")
    for (c <- 1 to 60) {
      val seq = ref.clone()
      for (_ <- 1 to 2) seq(rng.nextInt(seq.length)) = aa(rng.nextInt(aa.length))
      msa.append(s">Uniq$c;size=${1 + c % 4};\n${seq.mkString}\n")
    }
    val msaPath = "/tmp/graft_pipe_split_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath), msa.toString)
    val clusterMap = (Seq(("WIV04-ref", "clust0")) ++
      (1 to 60).map(c => (s"EPI_$c", s"Uniq$c"))).toDF("accession", "cluster_id")
    val meta = (1 to 60).map(c => (s"EPI_$c", f"2021-01-${1 + c % 28}%02d", "Europe"))
      .toDF("accession", "date", "region")

    val hadoop = spark.sparkContext.hadoopConfiguration
    val maxSplit = "mapreduce.input.fileinputformat.split.maxsize"
    // stage id -> (tasks, whether the stage reads a persisted RDD)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Boolean)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.put(e.stageInfo.stageId, (e.stageInfo.numTasks,
          e.stageInfo.rddInfos.exists(_.storageLevel.isValid)))
    }
    hadoop.set(maxSplit, "4096")
    try {
      val splits = VariantCalling.readMsa(spark, msaPath).rdd.getNumPartitions
      assert(splits > 1, "the fixture must read in several splits")
      spark.sparkContext.addSparkListener(listener)
      Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref", meta, clusterMap,
        "/tmp/graft_pipe_split_out")
      org.apache.spark.TestBus.drain(spark.sparkContext)
      // the first stage over the events cache builds it: it must call
      // variants in parallel, one task per split, not in one task
      val cacheReads = stages.asScala.toSeq.sortBy(_._1).collect {
        case (id, (tasks, true)) => id -> tasks }
      assert(cacheReads.nonEmpty, "no stage read the events cache")
      assert(cacheReads.head._2 == splits,
        s"the stage that builds the events cache ran ${cacheReads.head._2} " +
          s"task(s) over $splits splits; cache reads (stage -> tasks): $cacheReads")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      hadoop.unset(maxSplit)
    }
  }
}
