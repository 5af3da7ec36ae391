package graftbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated document and the group it was planted in. */
final case class Doc(id: Long, text: String, url: Option[String], source: String,
    role: String, group: Int)

/** The stages of `LlmPipeline.curate` with every optional stage on (URL
  * dedup, quality gate, exact and fuzzy decontamination, exact and
  * near-duplicate removal, mixture sampling, chunking and the
  * split-partitioned parquet write), replayed as spans over seeded
  * documents with planted URL, exact and near duplicates, contaminated and
  * paraphrased eval documents and low-quality documents. The eval set and
  * its paraphrases are a fixed fixture, like a real benchmark suite.
  *
  * Not a timed workload: one `curate` call with every stage on takes
  * minutes at this size (its plan grows with each stage, see the README),
  * while the replay forces each stage over a checkpointed input, so the
  * traced run measures every layer of curation in seconds. */
final class LlmCurate extends Replayed {
  import LlmCurate._

  val name = "llm_curate"
  val spanNames: Seq[String] = Seq(
    "operators.url_dedup_s", "operators.quality_gate_s",
    "operators.decontaminate_s", "operators.fuzzy_decontaminate_s",
    "operators.exact_survivors_s", "operators.minhash_near_dups_s",
    "operators.connected_components_s", "operators.mixture_sample_s",
    "operators.chunk_by_tokens_s", "sinks.parquet_partitioned_s")

  private var dir = ""
  private var docs: Seq[Doc] = Nil

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    new File(dir).mkdirs()
    docs = corpus(new Random(seed * 104729 + 3))
    GisaidSpine.write(s"$dir/docs.jsonl", docs.map(d => Json.obj(
      "id" -> d.id.toString, "text" -> Json.str(d.text),
      "url" -> d.url.map(Json.str).getOrElse("null"),
      "source" -> Json.str(d.source)) + "\n").mkString)
    GisaidSpine.write(s"$dir/eval.jsonl",
      EvalTexts.map(t => Json.obj("text" -> Json.str(t)) + "\n").mkString)
    System.err.println(s"[perfbench] llm_curate inputs: ${docs.size} documents, " +
      docs.groupBy(_.role).toSeq.sortBy(_._1).map { case (r, ds) => s"${ds.size} $r" }.mkString(", "))
  }

  private def read(spark: SparkSession): (DataFrame, DataFrame) = (
    spark.read.schema("id LONG, text STRING, url STRING, source STRING").json(s"$dir/docs.jsonl"),
    spark.read.schema("text STRING").json(s"$dir/eval.jsonl"))

  // ------------------------------------------------------------- checks

  /** The replay is one operation, one curation of the seeded corpus. It
    * fails when the split shares miss their weights, which they do for
    * every seed: `Curation.mixtureSample` and `TextAnalysis.hashSplit`
    * both threshold a prefix of md5(id), so every document a rate below
    * 0.9 keeps lands in `train` (see the README's Faults). Every other
    * wrong output is a problem. */
  override def checkReplay(spark: SparkSession, out: String): (Ops, Seq[String]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val rows = spark.read.parquet(s"$out/curated")
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens", "split").collect()
    val chunks = rows.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.sortBy(_.getInt(1)) }
    val byId = docs.map(d => d.id -> d).toMap
    val written = chunks.keySet

    // survivors: the min id of every duplicate group, no dropped role,
    // then the md5 mixture rule
    val dropped = Set("low_quality", "contaminated", "paraphrased")
    val survivors = docs.filter(d => !dropped(d.role) &&
      (d.group < 0 || d.id == docs.filter(_.group == d.group).map(_.id).min))
    val expected = survivors.filter(d => mixtureKeeps(d.id, Rates(d.source))).map(_.id).toSet
    for (role <- Seq("url_dup", "exact_dup", "near_dup")) {
      val groups = docs.filter(_.role == role).groupBy(_.group)
      val multi = groups.count(_._2.count(d => written(d.id)) > 1)
      if (multi > 0) problems += s"$multi $role groups kept more than one document"
    }
    for (role <- dropped) {
      val n = docs.count(d => d.role == role && written(d.id))
      if (n > 0) problems += s"$n $role documents were written"
    }
    val extra = written -- expected
    val lost = expected -- written
    if (extra.nonEmpty || lost.nonEmpty) problems +=
      s"written documents: ${extra.size} unexpected (${extra.take(5).map(i => byId.get(i).map(_.role))}), " +
        s"${lost.size} missing (${lost.take(5).map(i => byId(i).role)})"

    // per-source kept shares against the mixture rates
    survivors.groupBy(_.source).foreach { case (src, ds) =>
      val r = Rates(src); val n = ds.size.toDouble
      val share = ds.count(d => written(d.id)) / n
      if (math.abs(share - r) > 4 * math.sqrt(r * (1 - r) / n) + 1 / n)
        problems += f"source $src kept share $share%.3f vs rate $r"
    }

    // chunks: bounded, overlapping, reassembling each document
    var bad = 0
    chunks.foreach { case (id, cs) =>
      val toks = byId.get(id).map(_.text.trim.split("\\s+").filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val parts = cs.map(c => c.getString(2).split(" ").filter(_.nonEmpty).toSeq)
      val step = MaxTokens - Overlap
      val ok = cs.zip(parts).forall { case (c, p) => c.getInt(3) == p.size && p.size <= MaxTokens } &&
        cs.map(_.getInt(1)).toSeq == cs.indices &&
        parts.sliding(2).forall(w => w.size < 2 || w(0).takeRight(Overlap) == w(1).take(Overlap)) &&
        (parts.head ++ parts.tail.flatMap(_.drop(Overlap))) == toks &&
        cs.length == math.max(1, math.ceil((toks.size - Overlap).toDouble / step).toInt)
      if (!ok) bad += 1
    }
    if (bad > 0) problems += s"$bad documents' chunks do not reassemble with $Overlap-token overlaps"

    // one split per document, shares near the configured weights
    val splitOf = chunks.map { case (id, cs) => id -> cs.map(_.getString(4)).distinct }
    val mixed = splitOf.count(_._2.length != 1)
    if (mixed > 0) problems += s"$mixed documents span more than one split"
    val n = splitOf.size.toDouble
    val missed = Splits.flatMap { case (label, w) =>
      val share = splitOf.count(_._2.head == label) / n
      if (math.abs(share - w) > 4 * math.sqrt(w * (1 - w) / n) + 1 / n)
        Some(f"$label $share%.3f (weight $w)") else None
    }
    if (missed.nonEmpty)
      System.err.println(s"[perfbench] llm_curate replay failed: split shares ${missed.mkString(", ")}")
    (Ops(1, if (missed.nonEmpty) 1 else 0), problems.toSeq)
  }

  // ---------------------------------------------------------- span replay

  def replay(spark: SparkSession, out: String, spans: Spans): Unit = {
    def step(name: String)(df: => DataFrame): DataFrame = spans(name)(df.localCheckpoint(true))
    val (rawDocs, benchRaw) = read(spark)
    val (d, bench) = (rawDocs.localCheckpoint(true), benchRaw.localCheckpoint(true))
    val url = col("url")
    val deduped = step("operators.url_dedup_s") {
      val keep = d.filter(url.isNotNull)
        .select(TextAnalysis.canonicalUrl(url).as("__curl"), col("id").as("__uid"))
        .groupBy("__curl").agg(min(col("__uid")).as("__uid")).select("__uid")
      d.join(keep, col("id") === col("__uid"), "left_semi").unionByName(d.filter(url.isNull))
    }
    val scored0 = step("operators.quality_gate_s")(deduped
      .withColumn("__id", col("id")).withColumn("__text", col("text"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang", TextAnalysis.languageGuessFromTokens(
        TextAnalysis.wsTokens(lower(col("text")))))
      .filter(col("quality") >= MinQuality))
    val exactClean = step("operators.decontaminate_s")(Curation.decontaminate(
      scored0, col("__id"), col("__text"), bench, col("text"), DecontamK))
    val scored = step("operators.fuzzy_decontaminate_s")(Curation.fuzzyDecontaminate(
      exactClean, col("__id"), col("__text"), bench, col("text"), minJaccard = FuzzyMinJaccard))
    val exact = step("operators.exact_survivors_s")(scored.join(
      Dedup.exactSurvivors(scored, col("__id"), col("__text")).withColumnRenamed("id", "__keep"),
      col("__id") === col("__keep"), "left_semi"))
    val pairs = step("operators.minhash_near_dups_s")(
      Dedup.minhashNearDups(exact, col("__id"), col("__text"), minJaccard = MinJaccard))
    val kept0 = step("operators.connected_components_s") {
      val drop = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .filter(col("id") =!= col("label")).select(col("id").as("__drop"))
      exact.select(col("__id").as("id"))
        .join(drop, col("id") === col("__drop"), "left_anti").select("id")
    }
    val kept = step("operators.mixture_sample_s")(Curation.mixtureSample(
      scored.join(kept0.select(col("id").as("__id")), Seq("__id"), "left_semi")
        .select(col("__id").as("id"), col("source").as("__dom")),
      col("id"), col("__dom"), Rates))
    val chunks = step("operators.chunk_by_tokens_s")(TextAnalysis.chunkByTokens(
        scored.join(kept.select(col("id").as("__id")), Seq("__id"), "left_semi")
          .withColumn("split", TextAnalysis.hashSplit(col("__id"), Splits)),
        col("__id"), col("__text"), MaxTokens, Overlap,
        passthrough = Seq("quality", "lang", "split"))
      .withColumnRenamed("id", "doc_id"))
    spans("sinks.parquet_partitioned_s")(
      chunks.write.mode("overwrite").partitionBy("split").parquet(s"$out/curated"))
  }
}

object LlmCurate {
  val MaxTokens = 64
  val Overlap = 8
  val MinQuality = 0.6
  val MinJaccard = 0.8
  val DecontamK = 13
  val FuzzyMinJaccard = 0.5
  val Splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  val Rates: Map[String, Double] = Map("web" -> 0.6, "books" -> 0.9, "code" -> 0.5, "wiki" -> 1.0)
  private val Sources = Seq("web" -> 0.55, "books" -> 0.2, "code" -> 0.15, "wiki" -> 0.1)

  val SingleDocs = 900
  val UrlGroups = 40
  val ExactGroups = 40
  val NearGroups = 40
  val Contaminated = 15
  val LowQuality = 30

  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "that")

  /** A fixed vocabulary of lowercase pseudo-words. */
  val Vocab: IndexedSeq[String] = {
    val r = new Random(4242)
    val syl = for (c <- "bcdfghklmnprstvz"; v <- "aeiou") yield s"$c$v"
    (0 until 4000).map(_ => Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString).distinct
  }

  def tokens(r: Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.size)) else Vocab(r.nextInt(Vocab.size)))

  /** Prose-like layout: a period every ~12 tokens, a line break every ~40. */
  def render(toks: Seq[String]): String = toks.zipWithIndex.map { case (t, i) =>
    val w = if (i % 12 == 11) t + "." else t
    if (i > 0 && i % 40 == 0) "\n" + w else if (i > 0) " " + w else w.capitalize
  }.mkString

  /** The eval set: ten fixed 120-token texts. */
  val EvalTokens: Seq[IndexedSeq[String]] = {
    val r = new Random(777)
    Seq.fill(10)(tokens(r, 120))
  }
  val EvalTexts: Seq[String] = EvalTokens.map(render)

  /** A paraphrase no 13-token window of which occurs in the eval text: after
    * every 10th token the two preceding tokens repeat, so every window
    * crosses a repeat, while most 3-token shingles survive (Jaccard ≈ 0.8). */
  def paraphrase(e: IndexedSeq[String]): Seq[String] =
    e.indices.flatMap(i => if (i % 10 == 9) Seq(e(i), e(i - 1), e(i)) else Seq(e(i)))

  def mixtureKeeps(id: Long, rate: Double): Boolean =
    rate >= 1.0 || (rate > 0.0 && md5Hex(id.toString).take(8) <
      f"${math.min(math.round(rate * 4294967296.0), 4294967295L)}%08x")

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def corpus(r: Random): Seq[Doc] = {
    def source(): String = {
      var u = r.nextDouble()
      Sources.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("web")
    }
    def text(): String = render(tokens(r, 80 + r.nextInt(140)))
    val pending = mutable.ArrayBuffer.empty[(String, Option[String], String, Int)]
    var g = 0
    def add(t: String, role: String, group: Int = -1, url: Option[String] = null): Unit =
      pending += ((t, url, role, group))
    (0 until SingleDocs).foreach(_ => add(text(), "single"))
    (0 until UrlGroups).foreach { _ =>
      g += 1
      val variants = Seq(s"https://grp$g.example.org/p/$g",
        s"HTTPS://GRP$g.Example.org:443/p/$g/?utm_source=feed#top",
        s"https://grp$g.example.org/p/$g?utm_medium=mail&ref=x")
      variants.take(2 + r.nextInt(2)).foreach(u => add(text(), "url_dup", g, Some(u)))
    }
    (0 until ExactGroups).foreach { _ =>
      g += 1; val t = text()
      (0 until 2 + r.nextInt(2)).foreach(_ => add(t, "exact_dup", g))
    }
    (0 until NearGroups).foreach { _ =>
      g += 1
      val base = tokens(r, 120 + r.nextInt(80))
      add(render(base), "near_dup", g)
      (0 until 2).foreach { _ =>
        val v = base.toArray
        (0 until 2).foreach(_ => v(r.nextInt(v.length)) = Vocab(r.nextInt(Vocab.size)))
        add(render(v.toSeq), "near_dup", g)
      }
    }
    (0 until Contaminated).foreach { _ =>
      val e = EvalTokens(r.nextInt(EvalTokens.size))
      val at = r.nextInt(e.size - 20)
      val host = tokens(r, 90)
      val cut = r.nextInt(host.size)
      add(render(host.take(cut) ++ e.slice(at, at + 20) ++ host.drop(cut)), "contaminated")
    }
    EvalTokens.foreach(e => add(render(paraphrase(e)), "paraphrased"))
    (0 until LowQuality).foreach(_ =>
      add(Seq.fill(2 + r.nextInt(3))(r.nextInt(100000).toString).mkString(" "), "low_quality"))
    // ids in a seeded order, so planted documents are spread over the corpus
    r.shuffle(pending.toSeq).zipWithIndex.map { case ((t, u, role, group), i) =>
      val url = if (u != null) u
        else if (role == "single" && r.nextInt(12) == 0) None
        else Some(s"https://site$i.example.net/a/$i")
      Doc(i + 1L, t, url, source(), role, group)
    }
  }
}
