package graft

import graft.core.VariantCaller
import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test of the domain pipeline on a hand-built MSA whose
  * expected outputs are derived from the reference's documented contracts
  * (`/root/reference/MSA_Reader.py:50, 806–816, 1107–1162`;
  * `Time_Series.py:502–565, 731–811`).
  */
class DomainPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("domain-pipeline-spec")
  import org.apache.spark.sql.{Dataset, DataFrame}

  override def afterAll(): Unit = spark.stop()

  //                     1234567890 1234  (MSA columns; gap col 11)
  val alignedRef       = "MFVFLVLLPL-VSS"
  val refGapless: String = alignedRef.replace("-", "")

  def events() = {
    import spark.implicits._
    val rows = Seq(
      AlignedSeq("clust0", 1, alignedRef), // the reference cluster itself
      AlignedSeq("Uniq1", 5, "MLVFLVLLPL-VSS"), // sub F2L
      AlignedSeq("Uniq2", 3, "MF--LVLLPL-VSS"), // del V3_F4
      AlignedSeq("Uniq3", 2, "MFVFLVLLPLKVSS")) // ins L10_V11insK
    VariantCalling.callAll(rows.toDS(), alignedRef)
  }

  test("flagship slice: caller → events with the documented codes") {
    val evs = events().collect()
    val codes = evs.map(e => (e.clusterId, e.code, e.varType)).toSet
    assert(codes == Set(
      ("Uniq1", "F2L", "sub"),
      ("Uniq2", "V3_F4del", "del"),
      ("Uniq3", "L10_V11insK", "ins")))
  }

  test("infoByCluster: natural order, codes in MSA order") {
    val rows = Reports.infoByCluster(events()).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Uniq1", "Uniq2", "Uniq3"))
    assert(rows.map(_.getAs[Int]("cluster_size")).toSeq == Seq(5, 3, 2))
  }

  test("infoByCode + totals + mutation csv percent formatting") {
    import spark.implicits._
    val evs = events().cache()
    val clusters = Seq(("clust0", 1), ("Uniq1", 5), ("Uniq2", 3), ("Uniq3", 2))
      .toDF("clusterId", "clusterSize")
    val total = Reports.totalSequences(clusters).head().getLong(0)
    assert(total == 11) // 1+5+3+2, including the zero-variant ref cluster
    val csv = Reports.mutationCsv(evs, total).collect()
      .map(r => r.getAs[String]("Code") ->
        (r.getAs[Int]("Position"), r.getAs[String]("Percentage"))).toMap
    assert(csv("F2L") == (2, "45.4545%")) // 5/11
    assert(csv("V3_F4del") == (3, "27.2727%")) // 3/11
    assert(csv("L10_V11insK") == (10, "18.1818%")) // 2/11
  }

  test("breakUpDeletions: per-residue del rows with regenerated codes") {
    val broken = Reports.breakUpDeletions(events(), refGapless)
      .filter(col("varType") === "del")
      .select("code", "refStart").collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._2)
    assert(broken.toSeq == Seq(("V3del", 3), ("F4del", 4)))
  }

  test("perPositionTable: dense 1..refLen, zero-filled, typed counts") {
    val evs = events()
    val table = Reports.perPositionTable(evs, refGapless, total = 11)
    val rows = table.collect()
    assert(rows.length == refGapless.length)
    assert(table.columns.toSeq == Seq("Residue_Number", "Total_Variants",
      "Percent_Variants", "Substitutions", "Insertions", "Deletions",
      "Extensions", "Indels")) // MSA_Reader.py:1117 header, exactly
    val byPos = rows.map(r => r.getAs[Int]("Residue_Number") -> r).toMap
    assert(byPos(2).getAs[Long]("Substitutions") == 5L)
    assert(byPos(3).getAs[Long]("Deletions") == 3L)
    assert(byPos(4).getAs[Long]("Deletions") == 3L)
    assert(byPos(10).getAs[Long]("Insertions") == 2L)
    assert(byPos(1).getAs[Long]("Total_Variants") == 0L)
    assert(byPos(2).getAs[String]("Percent_Variants") == "45.4545%")
    assert(byPos(1).getAs[String]("Percent_Variants") == "0.0000%")
  }

  test("pymolStrings: banded +-joined selections with the reference's bands") {
    val table = Reports.perPositionTable(events(), refGapless, total = 11)
    val bands = Reports.pymolStrings(table).collect()
      .map(r => Option(r.getString(0)).getOrElse("NONE") ->
        (r.getAs[Long]("n_residues"), r.getAs[String]("selection"))).toMap
    assert(bands("2-10") == (4L, "2+3+4+10"))
    assert(bands("zero")._1 == refGapless.length - 4L)
  }

  test("aaChanges column semantics (Time_Series.py:393–467)") {
    val df = spark.createDataFrame(Seq(
      ("sub", "F", "L", None: Option[Int], 1),
      ("del", "VF", "-", Some(4), 2), // multi-residue del
      ("del", "V", "-", None: Option[Int], 1), // single del
      ("ins", "-", "KLR", None: Option[Int], 3),
      ("ext", "-", "MA", None: Option[Int], 2),
      ("delins", "HV", "I", Some(70), 3)))
      .toDF("t", "refAA", "varAA", "refEnd", "expected")
    val out = df.withColumn("aa",
      VariantTimeSeries.aaChanges(col("t"), col("refAA"), col("varAA"), col("refEnd")))
    assert(out.filter(col("aa") =!= col("expected")).count() == 0)
  }

  test("variantsPerCluster appends the empty reference row (U2)") {
    val per = VariantTimeSeries.variantsPerCluster(events(), "clust0", 1).collect()
    assert(per.map(_.getString(0)).toSeq == Seq("clust0", "Uniq1", "Uniq2", "Uniq3"))
    assert(per.head.getSeq[String](2).isEmpty)
  }

  test("metadata join + weekly cube + percentages end-to-end") {
    import spark.implicits._
    val evs = events()
    // ref cluster declared size 2 so it survives the F4 singleton filter
    val per = VariantTimeSeries.variantsPerCluster(evs, "clust0", 2)
    // accession → cluster map; Uniq1 has 2 members, one singleton cluster
    val clusterMap = Seq(
      ("EPI1", "Uniq1"), ("EPI2", "Uniq1"), ("EPI3", "Uniq2"),
      ("EPI4", "clust0"), ("EPI5", "UniqSingleton"))
      .toDF("accession", "cluster_id")
    val meta = Seq(
      ("EPI1", "2021-01-03", "Europe"), // Sunday → week of 01-03
      ("EPI2", "2021-01-05", "Europe"),
      ("EPI3", "2021-01-12", "Asia"), // week of 01-10
      ("EPI4", "2021-01-05", "Europe"),
      ("EPI5", "2021-01-05", "Europe"), // dropped: singleton (F4)
      ("EPI1", "2021-01", "Europe")) // dropped: invalid date (F5)
      .toDF("accession", "date", "region")
    val joined = VariantTimeSeries.joinMetadata(
      meta, clusterMap, per, minClusterSize = 2)
    // EPI5 (unknown cluster → null size) and the bad-date row are dropped
    assert(joined.count() == 4)
    val matrix = VariantTimeSeries.weeklyMatrix(joined).cache()
    val worldwide = matrix.filter(col("region") === "Worldwide")
      .collect().map(r => (r.getAs[java.sql.Date]("week_start").toString,
        r.getAs[String]("code"), r.getAs[Long]("freq"))).toSet
    assert(worldwide == Set(
      ("2021-01-03", "F2L", 2L),
      ("2021-01-10", "V3_F4del", 1L)))
    val w1 = matrix.filter(col("region") === "Worldwide" && col("code") === "F2L").head()
    assert(w1.getAs[Long]("total_genomes") == 3L) // EPI1, EPI2, EPI4
    assert(w1.getAs[Long]("zero_mutations") == 1L) // EPI4 (ref cluster, no codes)
    assert(w1.getAs[Double]("share") == 2.0 / 3.0)
  }

  test("weeklyMatrix equals the exploded-codes formulation row for row, share bit for bit") {
    import spark.implicits._
    // the formulation that shuffles every genome's codes: the region Expand,
    // a totals aggregate and an explode/count aggregate, joined on a
    // broadcast of the totals
    def exploded(joined: DataFrame): DataFrame = {
      val expanded = joined
        .withColumn("region", explode(array(col("region"), lit("Worldwide"))))
        .withColumn("week_start", TimeSeries.weekStart(col("date")))
      val totals = expanded.groupBy("region", "week_start")
        .agg(count(lit(1)).as("total_genomes"),
          sum(when(size(col("variants")) === 0, 1).otherwise(0)).as("zero_mutations"))
      val freqs = expanded
        .select(col("region"), col("week_start"), explode(col("variants")).as("code"))
        .groupBy("region", "week_start", "code")
        .agg(count(lit(1)).as("freq"))
      freqs.join(broadcast(totals), Seq("region", "week_start"))
        .withColumn("share", when(col("total_genomes") === 0, 0.0)
          .otherwise(col("freq").cast("double") / col("total_genomes")))
    }
    val rng = new scala.util.Random(11)
    val pool = (1 to 9).map(i => s"A${i}V")
    // the empty-list reference cluster, a cluster that called no events
    // (also an empty list) and ten clusters with lists drawn from the pool
    val lists = Seq("clust0" -> Seq.empty[String], "Uniq0" -> Seq.empty[String]) ++
      (1 to 10).map(c => s"Uniq$c" -> pool.filter(_ => rng.nextInt(3) == 0).sorted)
    val regions = Seq("Africa", "Asia", "Europe", "Oceania")
    val genomes = (1 to 240).map { i =>
      (s"EPI$i", lists(rng.nextInt(lists.size))._1, regions(rng.nextInt(regions.size)),
        java.time.LocalDate.parse("2021-01-01").plusDays(rng.nextInt(42)).toString)
    }
    val sizes = genomes.groupBy(_._2).map { case (c, g) => c -> g.size }
    val per = lists.map { case (c, v) => (c, sizes.getOrElse(c, 0), v) }
      .toDF("cluster_id", "cluster_size", "variants")
    // EPI0's cluster is absent from `per`, so F4 drops it
    val clusterMap = (("EPI0", "UniqGone") +: genomes.map(g => (g._1, g._2)))
      .toDF("accession", "cluster_id")
    val meta = (("EPI0", "2021-01-05", "Asia") +: genomes.map(g => (g._1, g._4, g._3)))
      .toDF("accession", "date", "region").repartition(4)
    val joined = VariantTimeSeries.joinMetadata(meta, clusterMap, per)

    val spread = joined.groupBy("cluster_id").agg(
      countDistinct(col("region")).as("r"),
      countDistinct(TimeSeries.weekStart(col("date"))).as("w"),
      count(lit(1)).as("n")).collect()
    assert(spread.length == lists.size && spread.forall(r => r.getLong(3) > 1 &&
      r.getLong(1) > 1 && r.getLong(2) > 1), "every cluster spans regions and weeks")

    def rows(df: DataFrame) = df.orderBy("region", "week_start", "code").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), java.lang.Double.doubleToRawLongBits(r.getDouble(6))))
      .toSeq
    val (got, want) = (VariantTimeSeries.weeklyMatrix(joined), exploded(joined))
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val gotRows = rows(got)
    assert(gotRows == rows(want))
    assert(gotRows.map(_._1).toSet == regions.toSet + "Worldwide")
    assert(gotRows.map(_._2).distinct.size >= 6)
    assert(gotRows.exists(_._6 > 0), "no week counts a zero-mutation genome")
  }

  test("trimmedWeeklyTotal drops head/tail weeks before summing (A15)") {
    import spark.implicits._
    val matrix = Seq(
      ("Worldwide", "2021-01-03", 10L), ("Worldwide", "2021-01-10", 20L),
      ("Worldwide", "2021-01-17", 30L), ("Worldwide", "2021-01-24", 40L),
      ("Europe", "2021-01-03", 5L))
      .toDF("region", "week_start", "total_genomes")
      .withColumn("week_start", to_date(col("week_start")))
    val total = VariantTimeSeries.trimmedWeeklyTotal(matrix, "Worldwide",
      trimHead = 1, trimTail = 1).head().getLong(0)
    assert(total == 50L) // 20 + 30
  }

  test("trimmedWeeklyTotal edges: over-trimmed and absent region give null, no trim sums all") {
    import spark.implicits._
    val matrix = Seq(
      ("Worldwide", "2021-01-10", "A1B", 20L), ("Worldwide", "2021-01-03", "A1B", 10L),
      ("Worldwide", "2021-01-03", "C2D", 10L), // second code, same week total
      ("Worldwide", "2021-01-17", "A1B", 30L), ("Europe", "2021-01-03", "A1B", 5L))
      .toDF("region", "week_start", "code", "total_genomes")
      .withColumn("week_start", to_date(col("week_start")))
    def total(region: String, head: Int, tail: Int): Option[Long] = {
      val rows = VariantTimeSeries.trimmedWeeklyTotal(matrix, region, head, tail).collect()
      assert(rows.length == 1)
      Option(rows.head.get(0)).map(_.asInstanceOf[Long])
    }
    assert(total("Worldwide", 0, 0).contains(60L)) // each week counted once
    assert(total("Worldwide", 2, 0).contains(30L))
    assert(total("Worldwide", 0, 2).contains(10L))
    assert(total("Worldwide", 2, 1).isEmpty) // trims == week count
    assert(total("Worldwide", 5, 4).isEmpty) // trims > week count
    assert(total("Oceania", 0, 0).isEmpty) // absent region
    intercept[IllegalArgumentException](total("Worldwide", -1, 0))

    // stageCounts reports an over-trimmed series as 0 genomes
    val in = "/tmp/graft_domain_trim.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in),
      ">Spike|iso/EPI_1|2021-01-01|EPI_1|o|l|Human\nMFVFLVLLP\n")
    val out = "/tmp/graft_domain_trim_out"
    Pipeline.prepare(spark, in, out, refLenByProtein = Map("Spike" -> 9),
      lengthDelta = 3, ambiguityCutoff = 0.1)
    val ts = Pipeline.stageCounts(spark, in, out,
        weeklyMatrix = Map("Spike" -> matrix), trimHead = 2, trimTail = 1).collect()
      .filter(_.getString(0) == "5_ts_total")
    assert(ts.map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("Spike", 0L)))
  }

  test("pivotWide: long frame → labeled wide matrix, zero-filled") {
    import spark.implicits._
    val long = Seq(
      ("A", "2021-01-03", 5L), ("A", "2021-01-10", 2L), ("B", "2021-01-10", 7L))
      .toDF("key", "week_start", "freq")
      .withColumn("week_start", to_date(col("week_start")))
    val wide = TimeSeries.pivotWide(long)
    assert(wide.columns.toSeq == Seq("key",
      "Week1 (01/03/2021-01/09/2021)", "Week2 (01/10/2021-01/16/2021)"))
    val rows = wide.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(rows("A") == (5L, 2L))
    assert(rows("B") == (0L, 7L)) // zero-filled missing week
  }

  test("block report sink renders the documented >-layout (S9)") {
    val grouped = Reports.infoByCluster(events())
      .select(concat(col("cluster_id"), lit(", "),
        col("cluster_size"), lit(" sequences")).as("hdr"), col("codes"))
    val path = "/tmp/graft_test_block_report"
    sinks.Sinks.writeBlockReport(grouped, "hdr", "codes", path)
    val txt = spark.read.option("lineSep", " ").text(path)
      .head().getString(0)
    assert(txt.contains(">Uniq1, 5 sequences\nF2L"))
    assert(txt.contains(">Uniq2, 3 sequences\nV3_F4del"))
  }

  test("where_reference round-trip (S7)") {
    import spark.implicits._
    val df = Seq(("Spike", "Uniq1"), ("NSP5", "clust7"))
      .toDF("protein", "cluster_id")
    val path = "/tmp/graft_test_where_ref"
    sinks.Sinks.writeWhereReference(df, path)
    val back = sinks.Sinks.readWhereReference(spark, path)
    assert(back == Map("Spike" -> "Uniq1", "NSP5" -> "clust7"))
  }

  test("RefCluster.find + patchMotif + longTypes") {
    import spark.implicits._
    val cm = Seq(("hCoV/WIV04/2019|EPI1", "clust3"), ("other|EPI2", "clust5"))
      .toDF("input_id", "cluster_id")
    assert(RefCluster.find(cm, "WIV04") == "clust3")
    intercept[IllegalArgumentException](RefCluster.find(cm, "nope"))

    val seqs = Seq(("s1", "AAXXBB"), ("s2", "AACCBB")).toDF("id", "seq")
    val patched = RefCluster.patchMotif(seqs, "seq", 3, "XX", "CC")
      .collect().map(_.getString(1))
    assert(patched.toSeq == Seq("AACCBB", "AACCBB"))

    val lt = RefCluster.longTypes(
      Seq("sub", "delins").toDF("t"), "t").collect().map(_.getString(1))
    assert(lt.toSeq == Seq("Substitution", "Deletion-Insertion"))
  }

  test("annotateVariantElements + topCodes (J8/O5/O6)") {
    import spark.implicits._
    val evs = events()
    val per = VariantTimeSeries.variantsPerCluster(evs, "clust0", 2)
    val clusterMap = Seq(("EPI_1", "Uniq1"), ("EPI_2", "Uniq2"))
      .toDF("accession", "cluster_id")
    val meta = Seq(("EPI_1", "2021-01-03", "Europe"), ("EPI_2", "2021-01-03", "Asia"))
      .toDF("accession", "date", "region")
    val joined = VariantTimeSeries.joinMetadata(meta, clusterMap, per)
    val annotated = VariantTimeSeries.annotateVariantElements(joined, evs)
      .collect().map(r => (r.getAs[String]("code"), r.getAs[String]("varType"))).toSet
    assert(annotated == Set(("F2L", "sub"), ("V3_F4del", "del")))
    val top = VariantTimeSeries.topCodes(
      VariantTimeSeries.weeklyMatrix(joined), "Worldwide", n = 1)
      .collect().map(_.getString(0))
    assert(top.length == 1) // both codes freq 1; tie breaks on code name
    assert(top.head == "F2L")
  }

  test("variant_events SQL generator matches the typed flatMap path") {
    import spark.implicits._
    val rows = Seq(
      ("Uniq1", 5, "MLVFLVLLPL-VSS"),
      ("Uniq2", 3, "MF--LVLLPL-VSS"),
      ("Uniq3", 2, "MFVFLVLLPLKVSS"))
      .toDF("cluster_id", "cluster_size", "seq")
    rows.createOrReplaceTempView("msa_rows")
    val sql = spark.sql(
      s"""SELECT cluster_id, v.code, v.var_type, v.ref_start, v.msa_end
         |FROM msa_rows
         |LATERAL VIEW variant_events('$alignedRef', seq, cluster_id, cluster_size) v
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.get(3), r.get(4))).toSet
    assert(sql == Set(
      ("Uniq1", "F2L", "sub", 2, null),
      ("Uniq2", "V3_F4del", "del", 3, 4),
      ("Uniq3", "L10_V11insK", "ins", 10, null))) // single-residue ins: no msa_end
  }

  test("dash sentinels render nulls as '-' (raw TSV shape)") {
    val raw = VariantCalling.toRawTsvShape(events())
    val sub = raw.filter(col("Code") === "F2L").head()
    assert(sub.getAs[String]("AA_End(MSA)") == "-")
    assert(sub.getAs[String]("AA_Start(Ref)") == "2")
  }
}
