package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.Pipeline
import graft.core.VariantEvent
import graft.operators._
import graft.sinks.{Sinks, Xlsx}
import graft.sources.Fasta
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A planted alignment edit, at 1-based ungapped reference positions. */
sealed trait Edit {
  def code(ref: String): String
  def kind: String
  /** MSA-order sort key: an insertion sorts after the residue it follows. */
  def order: Int
  /** Reference residues the per-position table counts this edit at. */
  def residues: Seq[Int]
}
final case class Sub(pos: Int, alt: Char) extends Edit {
  def code(ref: String) = s"${ref(pos - 1)}$pos$alt"
  def kind = "sub"
  def order: Int = 2 * pos
  def residues: Seq[Int] = Seq(pos)
}
final case class Del(from: Int, to: Int) extends Edit {
  def code(ref: String): String =
    if (from == to) s"${ref(from - 1)}${from}del"
    else s"${ref(from - 1)}${from}_${ref(to - 1)}${to}del"
  def kind = "del"
  def order: Int = 2 * from
  def residues: Seq[Int] = from to to
}
final case class Ins(after: Int, inserted: String) extends Edit {
  def code(ref: String) = s"${ref(after - 1)}${after}_${ref(after)}${after + 1}ins$inserted"
  def kind = "ins"
  def order: Int = 2 * after + 1
  def residues: Seq[Int] = Seq(after)
}

final case class PlantedCluster(id: String, size: Int, edits: Seq[Edit])

/** An alignment with its planted truth: the ungapped reference, the
  * insertion sites (reference position → gap columns after it), and every
  * cluster's edits. Cluster 1 is the reference cluster. */
final class Alignment(val ref: String, val sites: Map[Int, Int],
    val clusters: Seq[PlantedCluster]) {
  def row(edits: Seq[Edit]): String = {
    val subs = edits.collect { case s: Sub => s.pos -> s.alt }.toMap
    val dels = edits.collect { case d: Del => d.residues }.flatten.toSet
    val ins = edits.collect { case i: Ins => i.after -> i.inserted }.toMap
    val sb = new StringBuilder
    for (p <- 1 to ref.length) {
      sb += (if (dels(p)) '-' else subs.getOrElse(p, ref(p - 1)))
      sites.get(p).foreach { l =>
        val r = ins.getOrElse(p, "")
        sb ++= r; sb ++= "-" * (l - r.length)
      }
    }
    sb.result()
  }
  def codes(c: PlantedCluster): Seq[String] = c.edits.sortBy(_.order).map(_.code(ref))
  def total: Long = clusters.map(_.size.toLong).sum
  def fasta: String = clusters.map(c =>
    s">${c.id};size=${c.size};\n${GisaidSpine.wrap(row(c.edits))}\n").mkString
}

/** Metadata rows: accession, date (possibly partial), region. */
final case class Meta(accession: String, date: String, region: String, cluster: String)

/** `Pipeline.prepare` → `Pipeline.analyzeMsa` → `Pipeline.stageCounts` over
  * a seeded GISAID-style `allprot` FASTA and a seeded Spike-length MSA of
  * `Uniq<n>;size=<k>;` clusters. Every seed's alignment carries more than
  * 10,000 distinct codes into the Worldwide matrix, so `analyzeMsa` fails
  * on every pass at the heatmap sink's 10,000-row guard (the run counts it
  * as one failed operation of three), after it has written the raw events,
  * the four reports and the weekly matrix, which are checked. */
final class GisaidSpine extends Workload {
  import GisaidSpine._

  val name = "gisaid_spine"
  // on 4 cores the cold pass takes 35-40 s and the warm ones 12-13 s,
  // 10-11 s and 9-10 s: the JIT is still warming, so each operation's
  // fastest of three timed passes (most often the third) is the figure
  val timedPasses = 3
  val spanNames: Seq[String] = Seq(
    "sources.fasta_read_s", "operators.sequence_filter_s",
    "sinks.fasta_partitioned_s", "operators.exact_clusters_s",
    "operators.ref_cluster_s", "core.call_all_s",
    "operators.info_by_cluster_s", "operators.mutation_csv_s",
    "operators.per_position_s", "operators.pymol_s",
    "operators.variants_per_cluster_s", "operators.join_metadata_s",
    "operators.weekly_matrix_s", "operators.weekly_combos_s",
    "sinks.csv_s", "sinks.xlsx_s", "pipeline.stage_counts_s")

  private var dir = ""
  private var raw: Seq[(String, String, String, String)] = Nil // protein, accession, host, seq
  private var msa: Alignment = _
  private var meta: Seq[Meta] = Nil
  private var stageRows: Seq[(String, String, Long)] = Nil

  def items: Long = raw.size.toLong + msa.clusters.size

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    new File(dir).mkdirs()
    val rnd = new Random(seed * 7919 + 11)
    raw = rawFasta(rnd)
    write(s"$dir/allprot.fasta", raw.zipWithIndex.map { case ((p, acc, host, seq), i) =>
      s">$p|hCoV-19/Place/QA-$i/2021|2021-03-01|$acc|Original|hCoV-19^^Place|$host|x\n${wrap(seq)}\n"
    }.mkString)
    msa = seededAlignment(rnd)
    meta = metadata(rnd, msa)
    write(s"$dir/spike_msa.fasta", msa.fasta)
    write(s"$dir/spike_meta.tsv", "accession\tdate\tregion\n" +
      meta.map(r => s"${r.accession}\t${r.date}\t${r.region}\n").mkString)
    write(s"$dir/spike_clusters.tsv", "accession\tcluster_id\n" +
      meta.map(r => s"${r.accession}\t${r.cluster}\n").mkString)
    val events = msa.clusters.map(_.edits.size).sum
    val codes = msa.clusters.flatMap(_.edits.map(_.code(msa.ref))).distinct.size
    System.err.println(s"[perfbench] gisaid_spine inputs: ${raw.size} raw records " +
      s"(${kept.size} pass the filter, ${kept.map(_._4).distinct.size} distinct), " +
      s"${msa.clusters.size} MSA clusters of ${msa.total} sequences, $events events, " +
      s"$codes distinct codes, ${meta.size} metadata rows")
  }

  /** Raw records the stage-2 filter keeps, by its rules. */
  private def kept: Seq[(String, String, String, String)] = raw.filter { case (p, _, host, seq) =>
    val n = seq.length; val l = RefLens.toMap.apply(p)
    host == "Human" && n >= l - LengthDelta && n < l + LengthDelta &&
      seq.count(_ == 'X').toDouble / n <= Ambiguity
  }

  private def readTsv(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.option("header", "true").option("sep", "\t").schema(schema).csv(path)

  private def inputs(spark: SparkSession): (String, DataFrame, DataFrame) = (
    s"$dir/spike_msa.fasta",
    readTsv(spark, s"$dir/spike_meta.tsv", "accession STRING, date STRING, region STRING"),
    readTsv(spark, s"$dir/spike_clusters.tsv", "accession STRING, cluster_id STRING"))

  private def weeklyMatrix(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(
      "region STRING, week_start DATE, code STRING, freq LONG, " +
        "total_genomes LONG, zero_mutations LONG, share DOUBLE").csv(path)

  def pass(spark: SparkSession, out: String): Ops = {
    val fasta = s"$dir/allprot.fasta"
    val (_, prepS) = Ops.clock(Pipeline.prepare(spark, fasta, s"$out/prep", RefLens.toMap))
    val (msaPath, metaDf, clusterMap) = inputs(spark)
    val (failed, msaS) = Ops.clock {
      try { Pipeline.analyzeMsa(spark, msaPath, RefIsolate, metaDf, clusterMap, s"$out/msa"); 0 }
      catch { case e: IllegalArgumentException if e.getMessage.contains(HeatmapGuard) => 1 }
    }
    val (rows, countsS) = Ops.clock(Pipeline.stageCounts(spark, fasta, s"$out/prep",
        weeklyMatrix = Map("Spike" -> weeklyMatrix(spark, s"$out/msa/weekly_matrix")),
        trimHead = TrimHead, trimTail = TrimTail).collect())
    stageRows = rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    Ops(3, failed, Map("prepare" -> prepS, "analyzeMsa" -> msaS, "stageCounts" -> countsS))
  }

  // ------------------------------------------------------------- checks

  def check(spark: SparkSession, out: String): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect[T](what: String, got: T, want: T): Unit =
      if (got != want) problems += s"$what: got ${show(got)}, expected ${show(want)}"

    // stage 2: filtered records per protein, by the filter's rules
    val kept = this.kept
    val filteredDirs = Option(new File(s"$out/prep/filtered").listFiles).toSeq.flatten
      .filter(_.getName.startsWith("protein="))
    val gotFiltered = filteredDirs.map(d => d.getName.stripPrefix("protein=") ->
      partLines(d.getPath).filter(_.startsWith(">")).map(h => h.split("\\|")(3)).sorted).toMap
    expect("filtered accessions per protein", gotFiltered,
      kept.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).sorted })

    // stage 3: exact clusters — sizes, first ids and the Uniq rank order
    val clusters = kept.groupBy(_._4).values.map(rs => (rs.size, rs.map(_._2).min)).toSeq
      .sortBy { case (n, first) => (-n, first) }.zipWithIndex
      .map { case ((n, first), i) => (s"Uniq${i + 1}", n, first) }
    expect("exact clusters", csvRows(s"$out/prep/clusters", ",")
      .map(r => (r(0), r(1).toInt, r(2))).sortBy(_._1), clusters.sortBy(_._1))

    // stage 6: raw events per cluster by the reference's code rules
    val refId = msa.clusters.head.id
    val variant = msa.clusters.filter(c => c.id != refId && c.edits.nonEmpty)
    val sizeOf = msa.clusters.map(c => c.id -> c.size).toMap
    expect("raw events", csvRows(s"$out/msa/variants_raw", "\t")
        .map(r => (r(0), r(1).toInt, r(2), r(3))).sorted,
      variant.flatMap(c => c.edits.map(e => (c.id, c.size, e.kind, e.code(msa.ref)))).sorted)

    // info_by_cluster: one block per cluster with events, codes in MSA order
    val blocks = partText(s"$out/msa/info_by_cluster").split("\n\n").filter(_.nonEmpty)
      .map(_.split("\n").toSeq).map(b => b.head -> b.tail).toMap
    expect("info_by_cluster blocks", blocks,
      variant.map(c => s">${c.id}, ${c.size} sequences" -> msa.codes(c)).toMap)

    // all_by_code: frequency and percentage of every code
    val total = msa.total
    val freq = mutable.LinkedHashMap.empty[String, (Int, String, Long)]
    variant.foreach(c => c.edits.foreach { e =>
      val (p, k, f) = freq.getOrElse(e.code(msa.ref), (e.residues.head, e.kind, 0L))
      freq(e.code(msa.ref)) = (p, k, f + c.size)
    })
    expect("all_by_code", csvRows(s"$out/msa/all_by_code", ",")
        .map(r => (r(2), (r(0).toInt, r(1), r(3).toLong, r(4)))).toMap,
      freq.map { case (code, (p, k, f)) => code -> (p, k, f, pct(f, total)) }.toMap)

    // per_position: every residue, counts recomputed from planted edits
    val byType = mutable.HashMap.empty[(Int, String), Long].withDefaultValue(0L)
    variant.foreach(c => c.edits.foreach(e =>
      e.residues.foreach(r => byType((r, e.kind)) += c.size)))
    val perPos = (1 to msa.ref.length).map { r =>
      val (s, i, d) = (byType((r, "sub")), byType((r, "ins")), byType((r, "del")))
      Seq(r.toString, (s + i + d).toString, pct(s + i + d, total), s.toString,
        i.toString, d.toString, "0", "0")
    }
    expect("per_position", csvRows(s"$out/msa/per_position", ","), perPos)

    // pymol: residues per frequency band
    val bands = perPos.map(r => band(r(1).toLong) -> r.head.toInt).filter(_._1.nonEmpty)
      .groupBy(_._1).map { case (b, rs) => Seq(b, rs.size.toString, rs.map(_._2).sorted.mkString("+")) }
    expect("pymol bands", csvRows(s"$out/msa/pymol", ",").filter(_.head.nonEmpty).toSet, bands.toSet)

    // weekly matrix: genomes in clusters of size >= 2 with a full date
    val codesOf = msa.clusters.map(c => c.id -> c.edits.map(_.code(msa.ref)).distinct.sorted).toMap
    val linked = meta.filter(m => sizeOf(m.cluster) >= 2 &&
      (m.cluster == refId || codesOf(m.cluster).nonEmpty) && m.date.length == 10)
      .map(m => (m.region, weekStart(m.date), codesOf(m.cluster)))
    val expanded = linked.flatMap { case (r, w, cs) => Seq((r, w, cs), ("Worldwide", w, cs)) }
    val totals = expanded.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.size.toLong }
    val wm = expanded.flatMap { case (r, w, cs) => cs.map(c => (r, w, c)) }
      .groupBy(identity).map { case ((r, w, c), v) => (r, w, c) -> (v.size.toLong, totals((r, w))) }
    val gotWm = csvRows(s"$out/msa/weekly_matrix", ",")
    expect("weekly_matrix", gotWm.map(r => (r(0), r(1), r(2)) -> (r(3).toLong, r(4).toLong)).toMap, wm)
    val gotWorldwide = gotWm.filter(_.head == "Worldwide").map(r => r(1) -> r(4).toLong).toMap
    expect("Worldwide total_genomes = sum of the continents' genomes", gotWorldwide,
      totals.filter { case ((r, w), _) => r != "Worldwide" && gotWorldwide.contains(w) }
        .groupBy(_._1._2).map { case (w, v) => w -> v.values.sum })
    gotWm.find(r => math.abs(r(6).toDouble - r(3).toDouble / r(4).toDouble) > 1e-12)
      .foreach(r => problems += s"weekly_matrix share ${r.mkString(",")}")

    // heatmap and weekly combos come after the heatmap guard: checked
    // when written, i.e. once analyzeMsa no longer fails
    if (new File(s"$out/msa/heatmap_table.xlsx").exists) {
      val sheet = xlsxSheet(s"$out/msa/heatmap_table.xlsx")
      expect("heatmap rows", "<row ".r.findAllMatchIn(sheet).size,
        wm.keys.filter(_._1 == "Worldwide").map(_._3).toSet.size + 1)
    }
    if (new File(s"$out/msa/weekly_combos").exists)
      expect("weekly_combos", csvRows(s"$out/msa/weekly_combos", ",")
          .map(r => (r(0), r(1), r(2)) -> r(3).toLong).toMap,
        linked.groupBy { case (r, w, cs) => (r, w, cs.mkString(",")) }
          .map { case (k, v) => k -> v.size.toLong })

    // stage counts
    val weeks = wm.keys.filter(_._1 == "Worldwide").map(_._2).toSeq.distinct.sorted
    val tsTotal = weeks.slice(TrimHead, weeks.size - TrimTail)
      .map(w => totals(("Worldwide", w))).sum
    expect("stageCounts", stageRows.map(r => r.copy(_2 = String.valueOf(r._2))).sorted, (Seq(
      ("1_raw", "null", raw.size.toLong),
      ("3_cluster_sizes", "null", kept.size.toLong),
      ("5_ts_total", "Spike", tsTotal)) ++
      kept.groupBy(_._1).map { case (p, rs) => ("2_filtered", p, rs.size.toLong) }).sorted)
    problems.toSeq
  }

  // ---------------------------------------------------------- span replay

  def replay(spark: SparkSession, out: String, spans: Spans): Unit = {
    import spark.implicits._
    def step(name: String)(df: => DataFrame): DataFrame = spans(name)(df.localCheckpoint(true))
    val fasta = s"$dir/allprot.fasta"
    // stages 1-3 (Pipeline.prepare)
    val rawDf = step("sources.fasta_read_s")(
      Fasta.withHeaderFields(Fasta.read(spark, fasta).toDF()))
    val refLens = RefLens.toDF("protein", "ref_len")
    val filtered = step("operators.sequence_filter_s")(rawDf
      .join(broadcast(refLens), Seq("protein"))
      .filter(col("host") === "Human")
      .filter(length(col("seq")) >= col("ref_len") - LengthDelta &&
        length(col("seq")) < col("ref_len") + LengthDelta)
      .filter(Filters.charRatio(col("seq"), "X") <= Ambiguity))
    spans("sinks.fasta_partitioned_s")(
      Fasta.writePartitioned(filtered, "protein", s"$out/filtered"))
    val clusters = step("operators.exact_clusters_s")(Dedup.exactClusters(
        filtered.withColumn("id", col("accession")), col("id"), col("seq"))
      .select("cluster_id", "cluster_size", "first_id"))
    spans("sinks.csv_s")(Sinks.writeCsv(clusters, s"$out/clusters"))

    // stages 5-8 (Pipeline.analyzeMsa)
    val (msaPath, metaRaw, mapRaw) = inputs(spark)
    val (metaDf, clusterMap) = (metaRaw.localCheckpoint(true), mapRaw.localCheckpoint(true))
    val aligned: Dataset[AlignedSeq] = step("sources.fasta_read_s")(
      VariantCalling.readMsa(spark, msaPath).toDF()).as[AlignedSeq]
    val (refClusterId, refSeq, refSize, total) = spans("operators.ref_cluster_s") {
      val id = RefCluster.find(clusterMap.withColumnRenamed("accession", "input_id"), RefIsolate)
      val r = aligned.filter(col("clusterId") === id).select("seq", "clusterSize").head()
      val t = Reports.totalSequences(aligned.toDF().select(col("clusterId"),
        col("clusterSize"))).head().getLong(0)
      (id, r.getString(0), r.getInt(1), t)
    }
    val events: Dataset[VariantEvent] = step("core.call_all_s")(
      VariantCalling.callAll(aligned, refSeq).filter(col("clusterId") =!= refClusterId).toDF())
      .as[VariantEvent]
    spans("sinks.csv_s")(Sinks.writeCsv(VariantCalling.toRawTsvShape(events),
      s"$out/variants_raw", sep = "\t"))
    val info = step("operators.info_by_cluster_s")(Reports.infoByCluster(events).select(
      concat(col("cluster_id"), lit(", "), col("cluster_size"), lit(" sequences")).as("hdr"),
      col("codes")))
    spans("sinks.csv_s")(Sinks.writeBlockReport(info, "hdr", "codes", s"$out/info_by_cluster"))
    val byCode = step("operators.mutation_csv_s")(Reports.mutationCsv(events, total))
    spans("sinks.csv_s")(Sinks.writeCsv(byCode, s"$out/all_by_code"))
    val perPos = step("operators.per_position_s")(
      Reports.perPositionTable(events, refSeq.replace("-", ""), total))
    spans("sinks.csv_s")(Sinks.writeCsv(perPos, s"$out/per_position"))
    val pymol = step("operators.pymol_s")(Reports.pymolStrings(perPos))
    spans("sinks.csv_s")(Sinks.writeCsv(pymol, s"$out/pymol"))
    val per = step("operators.variants_per_cluster_s")(
      VariantTimeSeries.variantsPerCluster(events, refClusterId, refSize))
    val joined = step("operators.join_metadata_s")(
      VariantTimeSeries.joinMetadata(metaDf, clusterMap, per))
    val wm = step("operators.weekly_matrix_s")(
      VariantTimeSeries.weeklyMatrix(joined).orderBy("region", "code", "week_start"))
    spans("sinks.csv_s")(Sinks.writeCsv(wm, s"$out/weekly_matrix"))
    // the heatmap guard throws here, as in the real pass; the replay goes on
    // to weekly combos so that operator is measured too
    spans("sinks.xlsx_s") {
      val global = wm.filter(col("region") === "Worldwide")
      val weeks = global.select("week_start").distinct()
        .orderBy("week_start").collect().map(_.get(0).toString)
      try Xlsx.writeHeatmap(global.groupBy("code").pivot("week_start", weeks.toSeq)
        .sum("share").na.fill(0.0).orderBy("code"), s"$out/heatmap_table.xlsx", "Global")
      catch { case e: IllegalArgumentException if e.getMessage.contains(HeatmapGuard) => }
    }
    val combos = step("operators.weekly_combos_s")(VariantTimeSeries.weeklyCombos(joined)
      .orderBy("region", "week_start", "combo"))
    spans("sinks.csv_s")(Sinks.writeCsv(combos, s"$out/weekly_combos"))
    spans("pipeline.stage_counts_s")(Pipeline.stageCounts(spark, fasta, out,
      weeklyMatrix = Map("Spike" -> weeklyMatrix(spark, s"$out/weekly_matrix")),
      trimHead = TrimHead, trimTail = TrimTail).collect())
  }
}

object GisaidSpine {
  val AAs = "ACDEFGHIKLMNPQRSTVWY"
  val RefLens: Seq[(String, Int)] =
    Seq("Spike" -> 1273, "N" -> 419, "NS3" -> 275, "M" -> 222, "E" -> 75)
  val Regions = Seq("Africa", "Asia", "Europe", "North America", "Oceania", "South America")
  val RefIsolate = "EPI_ISL_402124"
  val Week0: LocalDate = LocalDate.of(2021, 1, 3) // a Sunday
  val LengthDelta = 30
  val Ambiguity = 0.01
  val TrimHead = 1
  val TrimTail = 1
  val HeatmapGuard = "heatmap sink is for report-sized frames"
  val RawRecords = 1000
  val SeededClusters = 1100
  /** Distinct codes every seed plants into the Worldwide matrix; above the
    * heatmap sink's 10,000-row guard. */
  val MinWorldwideCodes = 10200
  val PrivateSubs = 10

  def wrap(seq: String): String = seq.grouped(60).mkString("\n")

  def write(path: String, s: String): Unit =
    Files.write(new File(path).toPath, s.getBytes(UTF_8))

  private def randomSeq(rnd: Random, n: Int): String =
    Seq.fill(n)(AAs(rnd.nextInt(AAs.length))).mkString

  private def otherAA(rnd: Random, c: Char): Char = {
    val alts = AAs.filter(_ != c)
    alts(rnd.nextInt(alts.length))
  }

  /** `n` labels in the given shares, in a seeded order: the seed picks
    * which record gets which label, never how many get each. */
  private def deck(rnd: Random, n: Int, shares: Seq[(String, Double)]): IndexedSeq[String] = {
    val counts = shares.init.map { case (l, w) => l -> math.round(n * w).toInt }
    rnd.shuffle(counts.flatMap { case (l, k) => Seq.fill(k)(l) } ++
      Seq.fill(n - counts.map(_._2).sum)(shares.last._1)).toIndexedSeq
  }

  /** Raw allprot records (protein, accession, host, seq): mostly in-band,
    * unambiguous human records, with planted non-human hosts (4 %),
    * lengths at and beyond the band edges (4 %), X-ambiguous records (4 %;
    * some clean ones sit just under the cutoff) and exact duplicates of
    * earlier records of the same protein (15 %). */
  def rawFasta(rnd: Random): Seq[(String, String, String, String)] = {
    val bases = RefLens.map { case (p, n) => p -> randomSeq(rnd, n) }.toMap
    val proteins = deck(rnd, RawRecords,
      Seq("Spike" -> 0.4, "N" -> 0.15, "NS3" -> 0.15, "M" -> 0.15, "E" -> 0.15))
    val kinds = deck(rnd, RawRecords, Seq("non_human" -> 0.04, "out_of_band" -> 0.04,
      "ambiguous" -> 0.04, "duplicate" -> 0.15, "clean" -> 0.73))
    def variant(p: String, len: Int): String = {
      val b = new StringBuilder(bases(p))
      (0 until rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(b.length); b.setCharAt(i, otherAA(rnd, b.charAt(i))) }
      if (len <= b.length) b.substring(0, len) else b.toString + randomSeq(rnd, len - b.length)
    }
    def withX(s: String, n: Int): String = {
      val b = new StringBuilder(s)
      rnd.shuffle(s.indices.toList).take(n).foreach(i => b.setCharAt(i, 'X'))
      b.toString
    }
    val cleanSeqs = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    (0 until RawRecords).map { i =>
      val acc = s"EPI_ISL_${1000000 + i}"
      val p = proteins(i); val l = RefLens.toMap.apply(p)
      val earlier = cleanSeqs.getOrElse(p, mutable.ArrayBuffer.empty[String])
      kinds(i) match {
        case "non_human" => (p, acc, Seq("Felis catus", "Mustela lutra", "Environment")(rnd.nextInt(3)),
          variant(p, l - 5 + rnd.nextInt(10)))
        case "out_of_band" => (p, acc, "Human", variant(p,
          if (rnd.nextBoolean()) l - LengthDelta - 1 - rnd.nextInt(3) * 7
          else l + LengthDelta + rnd.nextInt(3) * 7))
        case "ambiguous" =>
          val s = variant(p, l - 5 + rnd.nextInt(10))
          (p, acc, "Human", withX(s, (s.length * Ambiguity).toInt + 1 + rnd.nextInt(4)))
        case "duplicate" if earlier.nonEmpty => (p, acc, "Human", earlier(rnd.nextInt(earlier.size)))
        case _ =>
          val len = rnd.nextInt(20) match {
            case 0 => l - LengthDelta
            case 1 => l + LengthDelta - 1
            case _ => l - 25 + rnd.nextInt(50)
          }
          val v = variant(p, len)
          val s = if (rnd.nextInt(25) == 0) withX(v, (v.length * Ambiguity).toInt) else v
          cleanSeqs.getOrElseUpdate(p, mutable.ArrayBuffer.empty[String]) += s
          (p, acc, "Human", s)
      }
    }
  }

  /** Spike-length alignment: eight lineages of shared substitutions,
    * deletion runs and insertions at three insertion sites, and ten or more
    * private substitutions per cluster, no two clusters sharing one — so
    * every cluster differs from every other and from the reference
    * cluster, and clusters of two or more sequences carry at least
    * [[MinWorldwideCodes]] distinct codes. Edits sit apart from lineage
    * edits and insertion sites, so each is called as its own event. */
  def seededAlignment(rnd: Random): Alignment = {
    val n = 1273
    val ref = randomSeq(rnd, n)
    val taken = mutable.Set.empty[Int]
    def free(p: Int, len: Int): Boolean =
      p >= 3 && p + len <= n - 3 && (p - 2 to p + len + 1).forall(q => !taken(q))
    def pick(len: Int): Int = {
      var p = 0
      while ({ p = 3 + rnd.nextInt(n - 6 - len); !free(p, len) }) ()
      (p - 2 to p + len + 1).foreach(taken += _)
      p
    }
    val sites = (1 to 3).map(_ => pick(1) -> (1 + rnd.nextInt(3))).toMap
    val lineages = (0 until 8).map { _ =>
      val subs = (0 until 3 + rnd.nextInt(3)).map { _ =>
        val p = pick(1); Sub(p, otherAA(rnd, ref(p - 1))) }
      val del = if (rnd.nextBoolean()) {
        val len = 1 + rnd.nextInt(6); val p = pick(len); Seq(Del(p, p + len - 1))
      } else Nil
      val ins = if (rnd.nextDouble() < 0.4) {
        val (p, l) = sites.toSeq.sortBy(_._1).apply(rnd.nextInt(sites.size))
        Seq(Ins(p, randomSeq(rnd, 1 + rnd.nextInt(l))))
      } else Nil
      subs ++ del ++ ins
    }
    // private substitutions: a seeded order of every (position, residue)
    // pair away from lineage edits, each handed out once
    val pairs = mutable.Queue.from(rnd.shuffle(
      (3 to n - 3).filter(p => free(p, 1)).flatMap(p => AAs.filter(_ != ref(p - 1)).map(Sub(p, _)))))
    def privates(k: Int): Seq[Sub] = {
      val got = mutable.LinkedHashMap.empty[Int, Sub]
      val skipped = mutable.ArrayBuffer.empty[Sub]
      while (got.size < k) {
        val s = pairs.dequeue()
        if (got.contains(s.pos)) skipped += s else got(s.pos) = s
      }
      pairs.prependAll(skipped)
      got.values.toSeq
    }
    // cluster sizes: a fixed multiset (15 % singletons, 75 % of 2-3, 10 %
    // of 4-12) in a seeded order; the reference cluster holds 30
    val sized = 30 +: rnd.shuffle((2 to SeededClusters).map { i =>
      val u = (i * 0.6180339887) % 1.0
      if (u < 0.15) 1 else if (u < 0.9) 2 + (i % 2) else 4 + (i % 9)
    }).toIndexedSeq
    val edits = mutable.ArrayBuffer.from((1 to SeededClusters).map { i =>
      if (i == 1) Seq.empty[Edit]
      else (if (rnd.nextDouble() < 0.9) lineages(rnd.nextInt(lineages.size)) else Nil) ++
        privates(PrivateSubs)
    })
    // top up clusters of two or more with further private substitutions
    // (each a new code) until the Worldwide matrix gets enough codes
    var codes = edits.indices.filter(i => sized(i) >= 2)
      .flatMap(i => edits(i).map(_.code(ref))).distinct.size
    var i = 1
    while (codes < MinWorldwideCodes) {
      if (sized(i) >= 2) {
        val extra = privates(1).filterNot(s => edits(i).exists(_.residues.contains(s.pos)))
        edits(i) = edits(i) ++ extra
        codes += extra.size
      }
      i = i % (SeededClusters - 1) + 1
    }
    new Alignment(ref, sites, (1 to SeededClusters).map(i =>
      PlantedCluster(s"Uniq$i", sized(i - 1), edits(i - 1))))
  }

  /** One accession per sequence in each cluster (the reference isolate is
    * in cluster 1), dated over 52 weeks in six regions; 2 % of dates after
    * each cluster's first lack the day and are dropped by the pipeline's
    * date filter. */
  def metadata(rnd: Random, a: Alignment): Seq[Meta] = {
    var next = 5000000
    a.clusters.flatMap { c =>
      (0 until c.size).map { j =>
        val acc = if (c.id == "Uniq1" && j == 0) RefIsolate else { next += 1; s"EPI_ISL_$next" }
        val d = Week0.plusDays(rnd.nextInt(364)).toString
        Meta(acc, if (j > 0 && rnd.nextInt(50) == 0) d.substring(0, 7) else d,
          Regions(rnd.nextInt(Regions.size)), c.id)
      }
    }
  }

  def weekStart(isoDate: String): String = {
    val d = LocalDate.parse(isoDate)
    d.minusDays(d.getDayOfWeek.getValue % 7).toString
  }

  def pct(n: Long, total: Long): String =
    String.format(Locale.US, "%.4f%%", Double.box(n.toDouble / total * 100))

  def band(v: Long): String =
    if (v >= 10000) "10000+" else if (v >= 1000) "1000-10000" else if (v >= 100) "100-1000"
    else if (v >= 10) "10-100" else if (v >= 2) "2-10" else if (v == 0) "zero" else ""

  private def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)

  def partText(dir: String): String =
    parts(dir).map(f => new String(Files.readAllBytes(f.toPath), UTF_8)).mkString

  def partLines(dir: String): Seq[String] =
    parts(dir).flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)

  /** Data rows of a single-header CSV directory written by Spark's CSV
    * writer (fields holding the separator are double-quoted). */
  def csvRows(dir: String, sep: String): Seq[Seq[String]] =
    parts(dir).flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala.drop(1))
      .map(splitCsv(_, sep.head))

  def splitCsv(line: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == sep) { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    (out += cur.result()).toSeq
  }

  def xlsxSheet(path: String): String = {
    val z = new java.util.zip.ZipFile(path)
    try new String(z.getInputStream(z.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), UTF_8)
    finally z.close()
  }

  def show(x: Any): String = {
    val s = String.valueOf(x)
    if (s.length > 300) s.take(300) + "…" else s
  }
}
