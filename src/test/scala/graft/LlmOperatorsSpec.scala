package graft

import graft.operators.{Bpe, Curation, Dedup, Linkage, Multimodal, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LlmOperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("llm-operators-spec")
  import scala.jdk.CollectionConverters._

  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: (Long, String)*) = {
    spark.createDataFrame(rows.map { case (i, t) => (i, t) }).toDF("doc_id", "text")
  }

  // ------------------------------------------------------------------ BPE

  test("BPE training matches the classic hand-computed merge sequence") {
    // Sennrich et al. 2016 fixture: ties break lexicographically
    val wf = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.train(wf, 4)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w"))
    val ranks = merges.zipWithIndex.toMap
    assert(Bpe.encodeWord("lowest", ranks) == Vector("low", "est"))
    assert(Bpe.encodeWord("newest", ranks) == Vector("n", "e", "w", "est"))
    assert(Bpe.encodeWord("xyz", ranks) == Vector("x", "y", "z"))
  }

  test("BPE: trained table is deterministic across partitionings") {
    val texts = Seq(
      "the theory of everything rests on thin air",
      "another thin theme within the weather",
      "rather the anthem than the other theory")
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val m1 = Bpe.trainBpe(df, col("text"), numMerges = 12)
    val m2 = Bpe.trainBpe(df.repartition(7), col("text"), numMerges = 12)
    assert(m1 == m2, "training order depends on partitioning")
    assert(m1.size == 12)
  }

  test("BPE: codegen replace-chain path equals the greedy encoder on a trained table") {
    import spark.implicits._
    val corpus = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs and other things"),
      (3L, "the theory of the thing is thinner than the other theory"),
      (4L, "ther the the and in on or an er thin"),
      (5L, ""))
    val merges = Bpe.trainBpe(corpus, col("text"), numMerges = 20)
    val greedy = Bpe.tokenizeBpe(corpus, col("doc_id"), col("text"), merges)
      .select(col("id"), size(col("bpe_tokens")).cast("bigint").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val column = corpus
      .select(col("doc_id"), Bpe.bpeTokenCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(greedy == column, s"greedy $greedy vs column $column")
    // and the token STRINGS agree, not just the counts: reassembling the
    // column path's wrapped encoding must give the greedy token stream
    val colTokens = corpus.filter(col("doc_id") === 3L)
      .select(Bpe.applyMergesColumn(regexp_replace(col("text"), "\\s+", " "), merges))
      .as[String].head()
      .split("›").filter(_.nonEmpty).map(_.stripPrefix("‹")).filter(_ != " ").toSeq
    val greedyTokens = Bpe.tokenizeBpe(corpus.filter(col("doc_id") === 3L),
        col("doc_id"), col("text"), merges)
      .select(col("bpe_tokens")).as[Seq[String]].head()
    assert(colTokens == greedyTokens)
  }

  test("BPE tokenization is lossless: concatenated tokens rebuild each word") {
    val corpus = docsDf(
      (1L, "internationalization and localization are complicated words"),
      (2L, "a bb ccc dddd eeeee"))
    val merges = Bpe.trainBpe(corpus, col("text"), numMerges = 15)
    val ranks = merges.zipWithIndex.toMap
    for (t <- Seq("internationalization", "complicated", "dddd", "zebra"))
      assert(Bpe.encodeWord(t, ranks).mkString == t, s"lossy encode of $t")
  }

  test("BPE tokenize: null text behaves as empty, not an NPE") {
    import spark.implicits._
    val corpus = docsDf((1L, "some text"), (2L, null.asInstanceOf[String]))
    val merges = Bpe.trainBpe(corpus.filter(col("text").isNotNull),
      col("text"), numMerges = 4)
    val out = Bpe.tokenizeBpe(corpus, col("doc_id"), col("text"), merges)
      .select(col("id"), size(col("bpe_tokens")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) > 0)
    assert(out(2L) == 0, "null text must tokenize to an empty array")
  }

  // ------------------------------------------------------------ n-gram LM

  test("NgramLm.transitionStats: exact counters on a hand-computed fixture") {
    import graft.operators.NgramLm
    // reference bigrams: (a,b)×2, (b,a)×1, (b,c)×1 → pc: a→2, b→2
    val ref = docsDf((0L, "a b a b c"))
    val scored = docsDf((10L, "a b c d"), (11L, "x"), (12L, "z z"))
    val out = NgramLm.transitionStats(scored, col("doc_id"), col("text"),
        ref, col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 10: (a,b) known+likely, (b,c) known+likely, (c,d) unknown
    assert(out(10L) == ((3L, 2L, 2L, 2.0 / 3)))
    // doc 11 has one token → no transitions → no row
    assert(!out.contains(11L))
    // doc 12: one transition, unknown
    assert(out(12L) == ((1L, 0L, 0L, 0.0)))
  }

  test("NgramLm bigram udf compiles with codegen fallback off") {
    import graft.operators.NgramLm
    val ref = docsDf((0L, "a b a b c"), (1L, "b c"))
    val scored = docsDf((10L, "a b c d"), (11L, "x"))
    // a Janino compile failure now throws, in whole-stage code and in
    // the projections built outside it
    val strict = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    strict.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val counts = NgramLm.bigramCounts(ref, col("text")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(counts == Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("b", "c") -> 2L))
      val stats = NgramLm.transitionStats(scored, col("doc_id"), col("text"),
          ref, col("text"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      assert(stats == Map(10L -> ((3L, 2L, 2L, 2.0 / 3))))
    } finally strict.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("NgramLm.perplexity: in-domain text beats gibberish; matches a naive replay") {
    import graft.operators.NgramLm
    val refText = "the cat sat on the mat and the dog sat on the rug"
    val ref = docsDf((0L, refText), (1L, refText), (2L, refText))
    val scored = docsDf(
      (10L, "the cat sat on the rug"),
      (11L, "rug mat dog cat the on"))
    val out = NgramLm.perplexity(scored, col("doc_id"), col("text"),
        ref, col("text"), alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(10L) < out(11L),
      s"in-domain ${out(10L)} should beat gibberish ${out(11L)}")
    // naive replay of doc 10 with the same model
    val lm = NgramLm.bigramCounts(ref, col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val pc = lm.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = lm.keySet.map(_._2).size + 1
    val toks = "the cat sat on the rug".split(" ")
    val logs = toks.sliding(2).map { case Array(w1, w2) =>
      -math.log((lm.getOrElse((w1, w2), 0L) + 0.5) /
        (pc.getOrElse(w1, 0L) + 0.5 * v))
    }.toSeq
    val expected = math.exp(logs.sum / logs.size)
    assert(math.abs(out(10L) - expected) < 1e-9,
      s"${out(10L)} vs naive $expected")
  }

  test("NgramLm.logProbStats: bitwise naive replay; garbled ranks worse; layout-exact") {
    import graft.operators.NgramLm
    val refText = "the cat sat on the mat and the dog sat on the rug"
    val ref = docsDf((0L, refText), (1L, refText), (2L, refText))
    val scored = docsDf(
      (10L, "the cat sat on the rug"),
      (11L, "rug mat dog cat the on"),   // same words, garbled order
      (12L, "zq xv qp wm nb vc"))        // fully out-of-vocabulary
    def run(df: org.apache.spark.sql.DataFrame) =
      NgramLm.logProbStats(df, col("doc_id"), col("text"), ref, col("text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val out = run(scored)
    // the CCNet signal: clean in-domain text scores better than garbled
    assert(out(10L)._3 < out(11L)._3,
      s"ranking broken: ${out.view.mapValues(_._3).toMap}")
    // fully-OOV contexts back off to the uniform event: ppl = V exactly
    // (every transition has c1 = c2 = 0 → P = 0.5/(0.5·V) = 1/V)
    val vocab = 9.0 // 8 retained successors + 1 unseen event
    assert(math.abs(out(12L)._3 - vocab) < 1e-9, s"OOV ppl ${out(12L)._3}")
    assert(out(10L)._3 < out(12L)._3, "clean text must beat OOV babble")
    // BITWISE naive replay of doc 10 — fixed-order left fold, same exprs
    val lm = NgramLm.bigramCounts(ref, col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val pc = lm.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = lm.keySet.map(_._2).size + 1
    val toks = "the cat sat on the rug".split(" ")
    val nlls = toks.sliding(2).map { case Array(w1, w2) =>
      -math.log((lm.getOrElse((w1, w2), 0L).toDouble + 0.5) /
        (pc.getOrElse(w1, 0L).toDouble + 0.5 * v))
    }.toSeq
    val mean = nlls.foldLeft(0.0)(_ + _) / nlls.size
    assert(out(10L) == ((nlls.size.toLong, mean, math.exp(mean))),
      s"${out(10L)} vs naive ($mean, ${math.exp(mean)})")
    // layout invariance is bitwise: the fold order is pinned by pos
    assert(run(scored.repartition(7)) == out)
  }

  test("NgramLm.ccnetBuckets: per-language terciles put clean in head, babble in tail") {
    import spark.implicits._
    import graft.operators.NgramLm
    val refText = "the cat sat on the mat and the dog sat on the rug"
    val ref = docsDf((0L, refText), (1L, refText))
    // six docs per language, from verbatim-in-domain to fully OOV
    def six(base: Long, lang: String) = Seq(
      (base + 0, "the cat sat on the mat", lang),
      (base + 1, "the dog sat on the rug", lang),
      (base + 2, "the cat sat on the rug and the dog", lang),
      (base + 3, "dog the mat cat on sat", lang),   // garbled order
      (base + 4, "rug on the zq xv mat", lang),     // half OOV
      (base + 5, "zq xv qp wm nb vc", lang))        // full OOV
    val docs = (six(10L, "en") ++ six(20L, "de"))
      .toDF("doc_id", "text", "lang")
    def run(d: org.apache.spark.sql.DataFrame) =
      NgramLm.ccnetBuckets(d, col("doc_id"), col("text"), col("lang"),
          ref, col("text"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          r.getInt(3), r.getString(4)))).toMap
    val out = run(docs)
    assert(out.size == 12)
    for (base <- Seq(10L, 20L)) {
      // 6 docs over 3 tiles → 2 per tile, ordered by nll. Note the
      // garbled doc (+3) scores WORSE than full-OOV babble (+5): an
      // unseen transition after a frequent word costs ln(c1+αV)/α more
      // than the uniform backoff 1/V — add-α smoothing's signature.
      assert(Seq(0, 1, 2, 3, 4, 5).map(i => out(base + i)._2) ==
        Seq(1, 1, 2, 3, 2, 3), s"tiles for $base: $out")
      assert(out(base)._3 == "head" && out(base + 5)._3 == "tail")
      assert(out(base + 2)._3 == "middle" && out(base + 3)._3 == "tail")
    }
    // languages are independent partitions
    assert(out(10L)._1 == "en" && out(20L)._1 == "de")
    // rank arithmetic is layout-exact
    assert(run(docs.repartition(7)) == out)
  }

  test("NgramLm: model is broadcast — the scored corpus never shuffles text") {
    import graft.operators.NgramLm
    val ref = docsDf((0L, "a b a b c"))
    val scored = docsDf((10L, "a b c d"), (12L, "z z"))
    val plan = NgramLm.transitionStats(scored, col("doc_id"), col("text"),
        ref, col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
  }

  // ------------------------------------------------------------- text ops

  test("graft_nfc/graft_nfd: composition, reordering, Hangul, no K-folding") {
    import spark.implicits._
    def nfc(s: String) = Seq(Tuple1(s)).toDF("s")
      .select(call_function("graft_nfc", col("s"))).as[String].collect().head
    def nfd(s: String) = Seq(Tuple1(s)).toDF("s")
      .select(call_function("graft_nfd", col("s"))).as[String].collect().head
    // decomposed cafe + combining acute composes to the 4-cp form
    assert(nfc("café") == "café")
    // canonical reordering: acute-then-cedilla input must reorder
    // (cedilla ccc 202 < acute ccc 230) before composing with the base
    assert(nfc("ȩ́") == nfc("ȩ́"))
    assert(nfc("ȩ́") == "ȩ́")
    // precomposed passes through; NFD undoes it; round-trip restores
    assert(nfc("Å") == "Å" && nfd("Å") == "Å")
    assert(nfc(nfd("ḍ̇")) == "ḍ̇")
    // Hangul jamo compose to the syllable
    assert(nfc("가") == "가")
    // canonical-only: the ffi ligature is COMPATIBILITY equivalent,
    // NFC must not fold it
    assert(nfc("ﬃ") == "ﬃ")
    // ASCII is untouched; empty survives; idempotence
    assert(nfc("plain ascii!") == "plain ascii!" && nfc("") == "")
    assert(nfc(nfc("café")) == "café")
  }

  test("token counting and normalization") {
    val df = docsDf((1L, "  The quick, brown fox!  "), (2L, ""))
    val out = df.select(TA.tokenCount(col("text")).as("n"),
      TA.normalized(col("text")).as("norm")).collect()
    assert(out(0).getInt(0) == 4)
    assert(out(0).getString(1) == "the quick brown fox")
    assert(out(1).getInt(0) == 0)
  }

  test("language guess votes stopwords, ties break by language order") {
    val df = docsDf(
      (1L, "the cat and the dog is here"), // en
      (2L, "der hund ist nicht ein katze"), // de
      (3L, "xyzzy plugh qwerty")) // no stopwords → und
    val out = df.select(TA.languageGuess(col("text"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("quality score is 1.0 for clean prose and lower for junk") {
    val df = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank"),
      (2L, "!!! ??? ### 123 456 789 $$$ %%% @@@ ^^^ &&& *** ((( )))"))
    val out = df.select(TA.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(out(0) == 1.0)
    assert(out(1) <= 0.6) // junk fails the punct + stopword checks
  }

  test("rolling min-hash: relational form equals expression form; shared windows collide") {
    val df = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words without overlap zone"))
    val rel = TA.rollingMinHashes(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expr = df.select(col("doc_id"), TA.rollingMinHash(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == expr)
    assert(rel(1L) == rel(2L))
    assert(rel(1L) != rel(3L))
  }

  test("rollingMinMd5 JVM path == rollingMinHashes(md5) on real docs + edges") {
    // the r16 fast path must be BIT-identical to the expression form —
    // same grams (incl. the <k whole-string gram), same lowercase hex,
    // same string min, same dropped rows for null text
    val real = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val edges = docsDf(
      (9000001L, ""), (9000002L, "short"), (9000003L, "exactly8"),
      (9000004L, "  MIXED Case,   punct!!  and    spaces  "),
      (9000005L, null.asInstanceOf[String]))
    val df = real.unionByName(edges)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val jvm = toMap(TA.rollingMinMd5(df, col("doc_id"), col("text"), k = 8))
    val expr = toMap(TA.rollingMinHashes(df, col("doc_id"), col("text"),
      k = 8, gramHash = g => org.apache.spark.sql.functions.md5(
        g.cast("binary"))))
    assert(jvm == expr)
    assert(jvm(9000005L).isEmpty) // null text keeps its row, null fp
  }

  test("fingerprint64 is invariant to case/punct/whitespace") {
    val df = docsDf((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other"))
    val fps = df.select(TA.fingerprint64(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("compression ratio: repetitive text far below prose; empty = 1.0; deterministic") {
    val boiler = "click here click here click here " * 60
    val prose = "A different sentence every time: quartz sphinx vow, " +
      "jackdaws love my big quick zebra, the wide river bends north today."
    assert(TA.compressionRatio("") == 1.0)
    val rBoiler = TA.compressionRatio(boiler)
    val rProse = TA.compressionRatio(prose)
    assert(rBoiler < 0.05, s"boilerplate ratio $rBoiler")
    assert(rProse > 0.5, s"prose ratio $rProse")
    assert(rBoiler == TA.compressionRatio(boiler), "non-deterministic deflate")

    val df = docsDf((1L, boiler), (2L, prose), (3L, ""), (4L, null.asInstanceOf[String]))
    val out = TA.compressionStats(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((boiler.getBytes("UTF-8").length.toLong, rBoiler)))
    assert(out(2L) == ((prose.getBytes("UTF-8").length.toLong, rProse)))
    assert(out(3L) == ((0L, 1.0)))
    assert(out(4L) == ((0L, 1.0)), "null text must behave as empty")
  }

  // ---------------------------------------------------------------- dedup

  test("exact dedup: cluster sizes sum to input rows; Uniq naming by size") {
    val df = docsDf((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"), (5L, "bbb"), (6L, "c"))
    val clusters = Dedup.exactClusters(df, col("doc_id"), col("text")).collect()
    assert(clusters.map(_.getAs[Long]("cluster_size")).sum == 6)
    val byId = clusters.map(r => r.getAs[String]("cluster_id") ->
      (r.getAs[Long]("cluster_size"), r.getAs[Long]("first_id"))).toMap
    assert(byId("Uniq1") == (3L, 1L)) // "aaa" ×3
    assert(byId("Uniq2") == (2L, 2L)) // "bbb" ×2
    assert(byId("Uniq3") == (1L, 6L))
    val survivors = Dedup.exactSurvivors(df, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(1L, 2L, 6L))
  }

  test("jaccard is exact on known sets") {
    val df = spark.sql(
      "SELECT array('a','b','c','d') AS ta, array('c','d','e','f') AS tb")
    val j = df.select(Dedup.jaccard(col("ta"), col("tb"))).head().getDouble(0)
    assert(j == 2.0 / 6.0)
  }

  test("containment: doc-in-doc scores 1.0 where Jaccard dilutes; unrelated stay apart") {
    val small = "alpha bravo charlie delta echo foxtrot"
    val filler = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    val df = docsDf(
      1L -> small,                         // 4 distinct 3-shingles
      2L -> (small + " " + filler),        // contains doc 1 verbatim
      3L -> "zulu yankee xray whiskey victor uniform sierra")
    val rows = Dedup.containmentPairs(df, col("doc_id"), col("text"),
        shingleK = 3, minContainment = 0.9, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(rows.keySet == Set((1L, 2L)), s"pairs: ${rows.keySet}")
    val (inter, nA, nB, cAinB, cBinA) = rows((1L, 2L))
    assert(inter == 4L && nA == 4L && cAinB == 1.0,
      s"doc 1's 4 shingles all inside doc 2: $inter/$nA/$cAinB")
    assert(nB == 23L && cBinA == 4.0 / 23.0)
    // the symmetric measure would have rejected this pair at any
    // threshold containment accepts: J = 4/23 < 0.9 ≤ C(A→B)
    assert(inter.toDouble / (nA + nB - inter) < 0.2)
  }

  test("minhash near-dups: finds perturbed copies, not unrelated docs") {
    val base = (0L until 40L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima token$i"))
    val near = base.map { case (i, t) => (i + 1000L, t + " mike") }
    val far = (2000L until 2040L).map(i =>
      (i, s"zulu yankee xray whiskey victor uniform sierra romeo q$i p$i o$i n$i m$i l$i"))
    val df = docsDf((base ++ near ++ far): _*)
    val pairs = Dedup.minhashNearDups(df, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 24, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (i, _) => assert(pairs.contains((i, i + 1000L)),
      s"perturbed pair ($i,${i + 1000L}) missed") }
    assert(pairs.forall { case (a, b) => (a < 2000) == (b < 2000) },
      "no far-corpus cross pairs expected")
  }

  test("minhash candidate plan contains no cartesian product") {
    val df = docsDf((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
    val plan = Dedup.minhashCandidates(df, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("bestPerCluster keeps the arg-max by (score desc, id); singletons survive") {
    import spark.implicits._
    val assigned = Seq(
      (1L, 1L, 10.0), (2L, 1L, 30.0), (3L, 1L, 30.0), // tie at 30 → id 2
      (4L, 4L, 5.0),                                  // singleton
      (5L, 5L, 1.0), (6L, 5L, 2.0)
    ).toDF("id", "label", "q")
    val best = Dedup.bestPerCluster(assigned, col("q"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(best == Map(1L -> 2L, 4L -> 4L, 5L -> 6L))
  }

  test("connected components: chains collapse to one min-labeled cluster") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
  }

  test("dedupCorpus: exact dups, transitive near-dups, unique docs") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val df = docsDf(
      (1L, base), (2L, base), // exact dups → keep 1
      (3L, base + " mike"), // near-dup of 1 (transitively clusters)
      (4L, "completely different content with many unrelated words here now"),
      (5L, "zulu yankee xray whiskey victor uniform tango sierra romeo quebec"))
    val kept = Dedup.dedupCorpus(df, col("doc_id"), col("text"), minJaccard = 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("repetitionStats: top-bigram and duplicate-line fractions (Gopher rules)") {
    import graft.operators.TextAnalysis
    val df = docsDf(
      (1L, "spam spam spam spam ham"), // bigram "spam spam" ×3 of 4
      (2L, "all words here differ totally"),
      (3L, "line one\nline one\nline two")) // 1 dup of 3 lines
    val got = TextAnalysis.repetitionStats(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getInt(4), r.getDouble(5))).toMap
    // "spam spam" ×3 covers 6 token-slots of 5 (overlap) → clamped to 1.0
    assert(got(1L) == ((3L, 1.0, 1, 0.0)))
    assert(got(2L)._1 == 1L && got(2L)._2 == 2 / 5.0)
    assert(got(3L)._3 == 3 && got(3L)._4 == 1 / 3.0)
  }

  test("chunkByTokens: overlapping windows, full coverage, empty doc keeps one chunk") {
    import graft.operators.TextAnalysis
    val words = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = docsDf((1L, words), (2L, ""), (3L, "solo"))
    val got = TextAnalysis.chunkByTokens(df, col("doc_id"), col("text"),
        maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getInt(3))).toMap
    // step = 3: starts at tokens 1, 4, 7, 10 — ceil((10-1)/3) = 3 chunks
    assert(got((1L, 0)) == (("w1 w2 w3 w4", 4)))
    assert(got((1L, 1)) == (("w4 w5 w6 w7", 4))) // 1-token overlap
    assert(got((1L, 2)) == (("w7 w8 w9 w10", 4)))
    assert(!got.contains((1L, 3)))
    assert(got((2L, 0)) == (("", 0))) // empty doc still emits one chunk
    assert(got((3L, 0)) == (("solo", 1)))
  }

  test("LlmPipeline.curate: gate → dedup → chunk → leak-free split → partitioned parquet") {
    val good = (1 to 12).map(i => s"word$i the and of to in is that").mkString(" ")
    val df = docsDf(
      (1L, good), (2L, good), // exact dups → one survivor
      (3L, good + " extra"), // near-dup of 1 → removed transitively
      (4L, "!!! ??? ;;; ###"), // fails the quality gate
      (5L, (1 to 40).map(i => s"u$i the of and to").mkString(" ")))
    val out = "/tmp/graft_llm_curate"
    val chunks = LlmPipeline.curate(df, col("doc_id"), col("text"), out,
      maxTokens = 64, overlap = 8, minQuality = 0.6, minJaccard = 0.5)
    val perDoc = chunks.groupBy("doc_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.keySet == Set(1L, 5L)) // junk gated, dups collapsed to min id
    assert(perDoc.values.forall(_ == 1L)) // every doc in exactly ONE split
    // doc 5 has 200 tokens → ceil((200-8)/56) = 4 chunks
    assert(chunks.filter(col("doc_id") === 5L).count() == 4L)
    // partitioned layout on disk: every split dir that exists is one of ours
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("split="))
    assert(dirs.nonEmpty &&
      dirs.forall(d => Set("split=train", "split=val", "split=test").contains(d)))
    val back = spark.read.parquet(out)
    assert(back.count() == chunks.count())
    assert(back.columns.contains("split") && back.columns.contains("quality"))
  }

  test("LlmPipeline.curate: decontamination and mixture stages compose") {
    val good = (1 to 12).map(i => s"word$i the and of to in is that").mkString(" ")
    val other = (1 to 40).map(i => s"u$i the of and to").mkString(" ")
    val df = docsDf((1L, good), (5L, other))
      .withColumn("source", when(col("doc_id") === 1L, "keep").otherwise("drop"))
    // benchmark shares doc 1's grams → doc 1 decontaminated away
    val bench = docsDf((100L, good))
    val out1 = LlmPipeline.curate(df, col("doc_id"), col("text"),
      "/tmp/graft_llm_curate_decon", maxTokens = 64, overlap = 8,
      minQuality = 0.2, minJaccard = 0.5, benchmark = Some(bench), decontamK = 8)
    assert(out1.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(5L))
    // mixture rate 0 for doc 5's domain → only doc 1 survives
    val out2 = LlmPipeline.curate(df, col("doc_id"), col("text"),
      "/tmp/graft_llm_curate_mix", maxTokens = 64, overlap = 8,
      minQuality = 0.2, minJaccard = 0.5,
      mixtureRates = Map("keep" -> 1.0, "drop" -> 0.0))
    assert(out2.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
    // fractional rate over 30 distinct docs plus 10 exact copies (ids
    // 101–110 copy 1–10): the written ids are exactly the dedup
    // survivors (1–30) that pass the md5 rule — a copy never stands in
    // for a sampled-out original
    val many = docsDf((1L to 30L).map(i =>
        i -> (1 to 40).map(j => s"d${i}w$j the of and to").mkString(" ")): _*)
    val manyDf = many.unionByName(many.filter(col("doc_id") <= 10L)
        .withColumn("doc_id", col("doc_id") + 100L))
      .withColumn("source", when(col("doc_id") % 2 === 0, "half").otherwise("all"))
    val out3 = "/tmp/graft_llm_curate_mix_half"
    LlmPipeline.curate(manyDf, col("doc_id"), col("text"), out3,
      maxTokens = 64, overlap = 8, minQuality = 0.2, minJaccard = 0.5,
      mixtureRates = Map("half" -> 0.5))
    def md5Hex8(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    val expected = (1L to 30L).filter(i => i % 2 == 1 || md5Hex8(i) < "80000000").toSet
    assert(expected.size > 15 && expected.size < 30) // the rule keeps some, not all
    assert(spark.read.parquet(out3).select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == expected)
  }

  test("LlmPipeline.curate: URL dedup and fuzzy decontamination stages compose") {
    // every 3-token window holds a group-unique token, so shingles are
    // distinct across groups and an edit kills exactly its own windows
    val good = (1 to 12).map(i =>
      s"word$i x$i the and y$i of to z$i").mkString(" ")
    val other = (1 to 40).map(i => s"u$i the of and to").mkString(" ")
    // docs 1 and 2 are the same page fetched under variant URLs; doc 5
    // is a distinct page
    val df = docsDf((1L, good), (2L, good + " extra tail here now"), (5L, other))
      .withColumn("url",
        when(col("doc_id") === 1L, "HTTP://Site.com:80/a?utm_source=x")
          .when(col("doc_id") === 2L, "http://site.com/a")
          .otherwise("http://other.com/b"))
    val out1 = LlmPipeline.curate(df, col("doc_id"), col("text"),
      "/tmp/graft_llm_curate_url", maxTokens = 64, overlap = 8,
      minQuality = 0.2, minJaccard = 0.99, urlCol = Some(col("url")))
    // URL dedup keeps min id (1) of the variant pair BEFORE text dedup
    // (jaccard 0.99 would not have merged 1 and 2 textually)
    assert(out1.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))

    // fuzzy decontamination: bench is a PARAPHRASE of doc 1 — every
    // EVEN-numbered wordN swapped (one edit per 16 tokens): the longest
    // unchanged token run is 15 < 20, so no 20-gram survives, while
    // shingle Jaccard stays ≈ 0.7 (well inside the banded-recall zone)
    val bench = docsDf((100L,
      good.replaceAll("word(2|4|6|8|10|12)\\b", "swapped$1")))
    val exactOnly = LlmPipeline.curate(df, col("doc_id"), col("text"),
      "/tmp/graft_llm_curate_fz1", maxTokens = 64, overlap = 8,
      minQuality = 0.2, minJaccard = 0.5, benchmark = Some(bench),
      decontamK = 20)
    assert(exactOnly.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet.contains(1L),
      "paraphrase must slip past the exact check (the premise)")
    val fuzzy = LlmPipeline.curate(df, col("doc_id"), col("text"),
      "/tmp/graft_llm_curate_fz2", maxTokens = 64, overlap = 8,
      minQuality = 0.2, minJaccard = 0.5, benchmark = Some(bench),
      decontamK = 20, fuzzyDecontam = true, fuzzyMinJaccard = 0.4)
    val keptIds = fuzzy.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(!keptIds.contains(1L) && keptIds.contains(5L),
      s"fuzzy stage must drop the paraphrased leak: kept $keptIds")
  }

  test("LlmPipeline.curateSnapshot: state carries across snapshots, appends accumulate") {
    import spark.implicits._
    def good(seed: Int) =
      (1 to 12).map(i => s"w$seed-$i the and of to in is that").mkString(" ")
    val out = "/tmp/graft_llm_curate_snap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val empty = Dedup.corpusState(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), col("doc_id"), col("text"))
    val s1 = LlmPipeline.curateSnapshot(docsDf((1L, good(1)), (2L, good(2))),
      col("doc_id"), col("text"), empty, out,
      maxTokens = 64, overlap = 8, minQuality = 0.2, minJaccard = 0.5)
    assert(s1.chunks.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // snapshot 2: an exact dup of snapshot 1's doc, a near dup, a fresh doc
    val s2 = LlmPipeline.curateSnapshot(
      docsDf((10L, good(1)), (11L, good(2) + " tail"), (12L, good(12))),
      col("doc_id"), col("text"), s1.state, out,
      maxTokens = 64, overlap = 8, minQuality = 0.2, minJaccard = 0.5)
    assert(s2.chunks.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(12L))
    assert(s2.state.count() == 3)
    // the sink accumulated both snapshots, split labels intact
    val back = spark.read.parquet(out)
    assert(back.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 12L))
    assert(back.select("split").distinct().collect().map(_.getString(0))
      .forall(Set("train", "val", "test")))
  }

  test("duplicateWindows finds shared k-token spans within and across docs") {
    import graft.operators.TextAnalysis
    val span = (1 to 6).map(i => s"s$i").mkString(" ") // 6 shared tokens
    val df = docsDf(
      (1L, s"a1 a2 $span a3"),
      (2L, s"b1 $span b2 b3"), // shares the 6-token span with doc 1
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8"), // no repeats
      (4L, "r r r r r r r r")) // internal repetition only
    val got = TextAnalysis.duplicateWindows(df, col("doc_id"), col("text"), k = 6)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // exactly one cross-doc window (the span) and one intra-doc window
    // ("r r r r r r" ×3 occurrences in doc 4)
    assert(got.sorted.toSeq == Seq((1L, 3L), (2L, 2L)))
  }

  test("duplicateSpans merges consecutive duplicated shingles into maximal spans") {
    // docs 1 and 2 share an 8-token run; with w=3 that is 6 consecutive
    // duplicated shingles → ONE maximal span each, in token coordinates.
    val run = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = docsDf(
      (1L, s"a1 a2 $run a3"),      // run at token positions 2..9
      (2L, s"$run b1 b2 b3"),      // run at token positions 0..7
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8"))  // unique — no spans
    val got = Dedup.duplicateSpans(df, col("doc_id"), col("text"),
        w = 3, minShingles = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2, 9, 6L), (2L, 0, 7, 6L)),
      s"expected one maximal span per sharing doc, got ${got.toSeq}")
    // below-threshold runs are dropped: with minShingles=7 nothing survives
    assert(Dedup.duplicateSpans(df, col("doc_id"), col("text"),
      w = 3, minShingles = 7).count() == 0)
    // a gap splits the island: doc 5 repeats doc 4's prefix AND suffix
    // but not the middle → two spans for each doc
    val df2 = docsDf(
      (4L, "p1 p2 p3 p4 mid1 mid2 q1 q2 q3 q4"),
      (5L, "p1 p2 p3 p4 other1 other2 q1 q2 q3 q4"))
    val spans2 = Dedup.duplicateSpans(df2, col("doc_id"), col("text"),
        w = 3, minShingles = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans2.length == 4, s"expected 2 spans × 2 docs, got ${spans2.toSeq}")
    assert(spans2.count(_._2 == 0) == 2, "both prefixes start at token 0")
  }

  test("removeDupSpans: one canonical occurrence survives, others are excised") {
    // docs 1, 2, 3 share an 8-token run; doc 1 (min id) is canonical and
    // keeps it, docs 2 and 3 lose exactly those tokens
    val run = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = docsDf(
      (1L, s"a1 a2 $run a3"),
      (2L, s"$run b1 b2 b3"),
      (3L, s"c1 $run c2"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8")) // untouched
    val got = Dedup.removeDupSpans(df, col("doc_id"), col("text"),
        w = 3, minShingles = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((11L, 0L, s"a1 a2 $run a3")))
    assert(got(2L) == ((11L, 8L, "b1 b2 b3")))
    assert(got(3L) == ((10L, 8L, "c1 c2")))
    assert(got(4L) == ((8L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8")))
    // within-doc repeat: the first occurrence is canonical
    val rep = docsDf((7L, s"$run x1 x2 $run"))
    val gotRep = Dedup.removeDupSpans(rep, col("doc_id"), col("text"),
      w = 3, minShingles = 2).collect()(0)
    assert(gotRep.getLong(2) == 8L &&
      gotRep.getString(3) == s"$run x1 x2")
    // token conservation + layout invariance on the fuzzed corpus
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 30).map(i => s"v$i")
    val fuzz = docsDf((0L until 20L).map { id =>
      (id, Seq.fill(15 + rnd.nextInt(15))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }: _*)
    def run2(d: org.apache.spark.sql.DataFrame) =
      Dedup.removeDupSpans(d, col("doc_id"), col("text"),
          w = 3, minShingles = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    val a = run2(fuzz)
    assert(a == run2(fuzz.repartition(7)))
    for ((_, nTok, nRem, clean) <- a)
      assert(clean.split(" ").filter(_.nonEmpty).length == nTok - nRem)
  }

  test("removeDupSpans: every duplicated digest's canonical window survives intact (fuzzed)") {
    // the protection contract: for EVERY digest duplicated in the
    // original corpus, the canonical occurrence's w tokens survive
    // CONSECUTIVELY in the cleaned canonical document — adjacent
    // removable runs of other digests may no longer clip them
    val w = 3; val minSh = 2
    val rnd = new scala.util.Random(113)
    val vocab = (0 until 25).map(i => s"v$i")
    val plants = Seq((1 to 6).map(i => s"p$i"), (1 to 5).map(i => s"q$i"))
    val docs0 = (0L until 16L).map { id =>
      val base = scala.collection.mutable.ArrayBuffer(
        Seq.fill(10 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))): _*)
      // plant shared runs at random offsets in most docs so canonical
      // and removable runs collide and abut in many layouts
      for (pl <- plants if rnd.nextBoolean()) {
        val cut = rnd.nextInt(base.length)
        base.insertAll(cut, pl)
      }
      id -> base.toSeq
    }
    val df = docsDf(docs0.map { case (id, t) => (id, t.mkString(" ")) }: _*)
    val cleaned = Dedup.removeDupSpans(df, col("doc_id"), col("text"),
        w = w, minShingles = minSh)
      .collect().map(r => r.getLong(0) ->
        r.getString(3).split(" ").filter(_.nonEmpty).toSeq).toMap
    // recompute digests + canonical election in the test
    val byId = docs0.toMap
    val occ = for ((id, toks) <- docs0; i <- 0 to toks.length - w)
      yield (toks.slice(i, i + w), id, i)
    val dupDigests = occ.groupBy(_._1).filter(_._2.size >= 2)
    assert(dupDigests.nonEmpty, "fixture planted no duplicated digests")
    var checked = 0
    for ((window, occs) <- dupDigests) {
      val (_, cid, cpos) = occs.minBy(o => (o._2, o._3))
      val cleanToks = cleaned(cid)
      assert(cleanToks.containsSlice(window),
        s"canonical window $window of doc $cid (pos $cpos) was clipped; " +
          s"clean doc: ${cleanToks.mkString(" ")}")
      checked += 1
    }
    assert(checked >= 10, s"fixture too weak: only $checked duplicated digests")
    // and the rewrite still removes something, i.e. protection did not
    // degenerate into keep-everything
    val removedTotal = Dedup.removeDupSpans(df, col("doc_id"), col("text"),
        w = w, minShingles = minSh)
      .agg(sum(col("n_removed"))).collect()(0).getLong(0)
    assert(removedTotal > 0, "no tokens removed at all")
  }

  test("maxDupSpans: per-pair max span == quadratic DP LCS on fuzzed docs") {
    val w = 3; val minSh = 2
    val minLen = w + minSh - 1 // shortest detectable common substring
    val rnd = new scala.util.Random(91)
    // fuzzed corpus: random token sequences over a small vocab (natural
    // short overlaps arise), plus substrings planted across specific
    // pairs so long matches exist too
    val vocab = (0 until 40).map(i => s"v$i")
    def randToks(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val plant = (1 to 9).map(i => s"p$i")
    val docs0 = (0L until 14L).map { id =>
      val base = randToks(12 + rnd.nextInt(20))
      val toks =
        if (id % 3 == 0) { // plant a shared run at a random offset
          val cut = rnd.nextInt(base.length)
          base.take(cut) ++ plant.take(4 + (id % 5).toInt) ++ base.drop(cut)
        } else base
      id -> toks
    }
    val df = docsDf(docs0.map { case (id, t) => (id, t.mkString(" ")) }: _*)
    val got = Dedup.maxDupSpans(df, col("doc_id"), col("text"),
        w = w, minShingles = minSh)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getLong(5))))
    // 1. every reported span is a REAL common run at the reported
    //    coordinates in both documents
    val byId = docs0.toMap
    for (((a, b), (sa, sb, len)) <- got) {
      val ta = byId(a).slice(sa, sa + len.toInt)
      val tb = byId(b).slice(sb, sb + len.toInt)
      assert(ta == tb && ta.length == len.toInt,
        s"span ($a,$b,$sa,$sb,$len) is not a common run")
    }
    // 2. per pair, the max reported span length equals the DP longest
    //    common substring whenever that is detectable (>= minLen), and
    //    no pair with LCS < minLen is reported at all
    def lcs(x: Seq[String], y: Seq[String]): Int = {
      val dp = Array.ofDim[Int](x.length + 1, y.length + 1)
      var best = 0
      for (i <- 1 to x.length; j <- 1 to y.length)
        if (x(i - 1) == y(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val gotMax = got.groupBy(_._1).view.mapValues(_.map(_._2._3).max).toMap
    var checkedDetectable = 0
    for (a <- 0L until 14L; b <- (a + 1) until 14L) {
      val l = lcs(byId(a), byId(b))
      if (l >= minLen) {
        assert(gotMax.get((a, b)).contains(l.toLong),
          s"pair ($a,$b): LCS=$l but operator max=${gotMax.get((a, b))}")
        checkedDetectable += 1
      } else assert(!gotMax.contains((a, b)),
        s"pair ($a,$b): LCS=$l < $minLen yet a span was reported")
    }
    assert(checkedDetectable >= 5, "fixture too weak — no detectable pairs")
    // 3. layout-invariance
    val re = Dedup.maxDupSpans(df.repartition(7), col("doc_id"),
        col("text"), w = w, minShingles = minSh)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getLong(5)))).toSet
    assert(re == got.toSet)
  }

  test("hashSplit: deterministic, exhaustive, proportional to weights") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = (1 to 10000).toDF("id")
    val splitCol = TextAnalysis.hashSplit(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = df.select(splitCol.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000L) // every row labeled
    assert(counts("train") > 7700 && counts("train") < 8300)
    assert(counts("val") > 700 && counts("val") < 1300)
    assert(counts("test") > 700 && counts("test") < 1300)
    // stable: same ids → same labels on a re-evaluation
    val twice = df.select(col("id"), splitCol.as("a"))
      .join(df.select(col("id"), splitCol.as("b")), "id")
      .filter(col("a") =!= col("b")).count()
    assert(twice == 0L)
  }

  test("canonicalUrl: hand-pinned rules, variant collision, idempotence") {
    import spark.implicits._
    val cases = Seq(
      // authority lowercased, path case KEPT, default port + fragment +
      // tracking gone, params sorted
      "HTTPS://WWW.Site.COM:443/Path/A?utm_source=x&b=2&a=1#frag" ->
        "https://www.site.com/Path/A?a=1&b=2",
      "http://site.com:80/a/" -> "http://site.com/a",
      "http://site.com/a//" -> "http://site.com/a",
      "http://site.com//" -> "http://site.com/",
      "http://site.com" -> "http://site.com/",
      "http://site.com/?fbclid=z&ref=tw" -> "http://site.com/",
      "https://site.com:8443/x?gclid=1&q=2" -> "https://site.com:8443/x?q=2",
      "http://site.com/a?z=1&a=2&utm_campaign=c" -> "http://site.com/a?a=2&z=1")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TA.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"$in -> ${got(in)}, want $want") }
    // canonical form is a fixed point
    val twice = cases.map(_._2).toDF("url")
      .select(col("url"), TA.canonicalUrl(col("url")).as("c"))
      .collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: ${r.getString(0)} -> ${r.getString(1)}"))
  }

  test("redactPii replaces emails and phone shapes; counts match") {
    import graft.operators.TextAnalysis
    val df = docsDf((1L, "mail a.user+tag@sub.example.org or call +1 (555) 010-1234 today"))
    val r = df.select(
      TextAnalysis.redactPii(col("text")).as("red"),
      TextAnalysis.patternCount(col("text"), TextAnalysis.EmailRe).as("ne"),
      TextAnalysis.patternCount(col("text"), TextAnalysis.PhoneRe).as("np")).head()
    assert(r.getString(0) == "mail <EMAIL> or call <PHONE> today")
    assert(r.getInt(1) == 1 && r.getInt(2) == 1)
  }

  test("dedupCorpus: 40 synthetic clusters resolve to exactly min-id survivors") {
    // ground truth BY CONSTRUCTION: each cluster draws from a disjoint
    // 30-token vocabulary (inter-cluster jaccard = 0) and members are
    // 1-token perturbations of the seed (pairwise jaccard ≈ 0.94, far
    // above the 0.5 threshold and high enough that 8×3 LSH bands collide
    // with probability ≈ 1) — so the ONLY correct answer is one survivor
    // per cluster, the minimum doc id. Any regression in banding,
    // verification, components, or survivor selection breaks this.
    val rng = new scala.util.Random(4242)
    val docs = Seq.newBuilder[(Long, String)]
    val expected = Seq.newBuilder[Long]
    var nextId = 1L
    for (c <- 0 until 40) {
      val vocab = (0 until 30).map(t => s"w${c}_$t")
      val seed = rng.shuffle(vocab).mkString(" ")
      val size = 1 + rng.nextInt(6)
      val ids = (0 until size).map { m =>
        val id = nextId; nextId += 1
        val text = if (m == 0) seed else {
          val toks = seed.split(" ").toBuffer
          toks(rng.nextInt(toks.size)) = s"w${c}_x$m" // one-token swap
          toks.mkString(" ")
        }
        docs += ((id, text)); id
      }
      expected += ids.min
    }
    val kept = Dedup.dedupCorpus(docsDf(docs.result(): _*),
        col("doc_id"), col("text"), minJaccard = 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expected.result().sorted)
  }

  test("simhash: identical texts hash equal; perturbation stays within band distance") {
    val df = docsDf(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"),
      (4L, "totally different words entirely unrelated content here now then"))
    val hs = df.select(Dedup.simhash64(col("text"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    val d13 = java.lang.Long.bitCount(hs(0) ^ hs(2))
    val d14 = java.lang.Long.bitCount(hs(0) ^ hs(3))
    assert(d13 < d14, s"near dist $d13 should be < far dist $d14")
    val cands = Dedup.simhashCandidates(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("rare-shingle candidates bound fanout and find equal docs") {
    val df = docsDf((1L, "p q r s t u"), (2L, "p q r s t u"), (3L, "a b c d e f"))
    val pairs = Dedup.rareShingleCandidates(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // ----------------------------------------------------------- similarity

  private def vecsDf(rows: (Long, Seq[Float])*) =
    spark.createDataFrame(rows).toDF("vec_id", "embedding")

  test("graft_vector_dot: codegen expression matches HOF math, SQL-callable") {
    val df = vecsDf((1L, Seq(1f, 2f, 3f)))
      .withColumn("b", typedLit(Seq(4.0, 5.0, 6.0)))
    val fast = df.select(Similarity.dot(col("embedding"), col("b"))).head().getDouble(0)
    val hof = df.select(aggregate(
      zip_with(col("embedding"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)).head().getDouble(0)
    assert(fast == 32.0 && hof == fast)
    val sqlVal = spark.sql(
      "SELECT graft_vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(sqlVal == 11.0)
    // mismatched lengths: NULL, same as the HOF via zip_with's null padding
    // (a partial dot over min(len) would be silently wrong)
    val mism = spark.sql(
      "SELECT graft_vector_dot(array(1.0D, 2.0D), array(3.0D))").head()
    assert(mism.isNullAt(0))
    val hofMism = spark.sql(
      """SELECT aggregate(zip_with(array(1.0D, 2.0D), array(3.0D),
        |  (x, y) -> x * y), 0.0D, (a, x) -> a + x)""".stripMargin).head()
    assert(hofMism.isNullAt(0))
  }

  test("ANN recall@3: LSH (multi-probe) and IVF vs brute-force truth") {
    val dir = "/root/testdata/sf0.001"
    def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter(col("rank") <= 3).select("qid", "nid").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = byQuery(graft.queries.TextLLM.sAnnBruteTop5(spark, dir))
    assert(truth.nonEmpty && truth.values.forall(_.size == 3))
    def recall(approx: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size / 3.0
      }.sum / truth.size
    val lshRecall = recall(byQuery(graft.queries.TextLLM.sAnnLshTop3(spark, dir)))
    val ivfRecall = recall(byQuery(graft.queries.TextLLM.sAnnIvfTop3(spark, dir)))
    info(f"recall@3 — lsh: $lshRecall%.3f, ivf: $ivfRecall%.3f")
    // the dials (6-bit multi-probe LSH; IVF k=8, nProbe=3) are chosen for
    // high recall at this SF; a regression in bucketing/probing shows up
    // as a collapse well below these floors
    assert(lshRecall >= 0.6, f"LSH recall@3 $lshRecall%.3f < 0.6")
    assert(ivfRecall >= 0.6, f"IVF recall@3 $ivfRecall%.3f < 0.6")
  }

  test("all-pairs guard fires before planning an unbounded nested-loop join") {
    val many = vecsDf((1L to 20L).map(i => (i, Seq(i.toFloat, 1f))): _*)
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(many, minCosine = 0.9, maxRows = 10)
    }
    assert(e.getMessage.contains("bucket first"))
    // under the cap the same call works
    val ok = Similarity.cosineNearDupPairs(many.limit(5), minCosine = -1.0, maxRows = 10)
    assert(ok.count() == 10) // C(5,2) pairs
  }

  test("cosine: orthogonal → 0, identical → 1, zero-norm → 0") {
    val df = vecsDf((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0f, 0f)))
    val a = df.filter(col("vec_id") === 1).select(col("embedding").as("va"))
    val out = a.crossJoin(df)
      .select(Similarity.cosine(col("va"), col("embedding"))).collect()
      .map(_.getDouble(0))
    assert(out.toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("brute-force top-k returns nearest by construction") {
    val df = vecsDf(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(-1f, 0f, 0f)))
    val q = df.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = Similarity.bruteForceTopK(df, q, 2).orderBy("rank")
      .collect().map(_.getAs[Long]("nid"))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("hard negatives: only other-label neighbors, ranked like brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val df = vecsDf((0L until 60L).map(i =>
        (i, Seq.fill(8)(rng.nextGaussian().toFloat))): _*)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val labels = df.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val negs = Similarity.hardNegatives(df, q, 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("nid")))
    assert(negs.length == 4 * 5)
    // every mined negative has a different label than its query
    negs.foreach { case (qid, _, nid) =>
      assert(labels(nid) != labels(qid), s"same-label pair ($qid, $nid)")
    }
    // per query: exactly the top-5 other-label rows of the full ranking
    val all = Similarity.bruteForceTopK(df, q.drop("qlabel"), 60)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
    for (qid <- 0L until 4L) {
      val expect = all.filter(_._1 == qid).map(_._2)
        .filter(nid => labels(nid) != labels(qid)).take(5).toSeq
      val got = negs.filter(_._1 == qid).sortBy(_._2).map(_._3).toSeq
      assert(got == expect, s"qid=$qid: $got != $expect")
    }
  }

  test("LSH top-k candidates are a subset scored identically to brute force") {
    val rng = new scala.util.Random(7)
    val df = vecsDf((0L until 100L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))): _*)
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(df, q, 10, baseVec = "embedding")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cos"))).toSet
    val lsh = Similarity.lshTopK(df, q, 10, numBits = 4, dim = 16)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cos")))
    assert(lsh.nonEmpty)
    // every LSH hit's cosine equals the brute-force cosine for that pair
    val bruteAll = Similarity.bruteForceTopK(df, q, 100)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) ->
        r.getAs[Double]("cos")).toMap
    lsh.foreach { case (qid, nid, cos) => assert(bruteAll((qid, nid)) == cos) }
  }

  test("IVF: k-means separates blobs; probe search finds brute-force neighbors") {
    val rng = new scala.util.Random(11)
    // three well-separated blobs in 8 dims
    val centers = Seq(
      Array.fill(8)(5.0), Array.fill(8)(-5.0),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0 else -5.0))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val centroids = Similarity.trainCentroids(df, k = 3, iters = 5)
    val indexed = Similarity.ivfIndex(df, centroids)
    // every blob maps to exactly one inverted list
    val lists = indexed.withColumn("blob", col("vec_id") % 3)
      .groupBy("blob").agg(countDistinct(col("ivf_list")).as("n"))
      .collect().map(_.getLong(1))
    assert(lists.forall(_ == 1L))

    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = Similarity.ivfTopK(indexed, q, k = 5, centroids, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nid")).toMap
    val brute = Similarity.bruteForceTopK(df, q, 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nid")).toMap
    // same-blob neighbors dominate, so nProbe=1 already matches brute force
    assert(ivf == brute)
  }

  test("linkage: hand m/u values; true pairs outscore chance pairs; missing fields inert") {
    import spark.implicits._
    // labeled pairs with three fields: name agreement is reliable
    // (m high, u low), city agrees half the time for anyone (weak),
    // year is sometimes missing
    val rng = new scala.util.Random(23)
    val labeled = (0 until 200).map { i =>
      val isMatch = i % 2 == 0
      val nameAgree = if (isMatch) rng.nextInt(10) > 0 else rng.nextInt(10) == 0
      val cityAgree = rng.nextBoolean()
      val yearAgree: Option[Boolean] =
        if (i % 7 == 0) None else Some(isMatch || rng.nextInt(4) == 0)
      (isMatch, nameAgree, cityAgree, yearAgree)
    }
    val df = labeled.toDF("is_match", "f_name", "f_city", "f_year")
    val fields = Seq("name" -> col("f_name"), "city" -> col("f_city"),
      "year" -> col("f_year"))
    val w = Linkage.trainWeights(df, col("is_match"), fields)
    val got = w.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))))
      .toMap
    // independent replay of the smoothed count ratios for `name`
    val nm = labeled.count(_._1); val nn = labeled.size - nm
    val am = labeled.count(l => l._1 && l._2)
    val an = labeled.count(l => !l._1 && l._2)
    val m = (am + 1).toDouble / (nm + 2).toDouble
    val u = (an + 1).toDouble / (nn + 2).toDouble
    assert(got("name") == ((nm.toLong, nn.toLong, am.toLong, an.toLong,
      m, u, math.log(m / u), math.log((1 - m) / (1 - u)))))
    // the reliable field dominates: |w| larger than the coin-flip city
    assert(got("name")._7 > got("city")._7.abs)
    // year: null rows excluded from that field's counts only
    val yearRows = labeled.filter(_._4.isDefined)
    assert(got("year")._1 == yearRows.count(_._1).toLong)
    assert(got("name")._1 == nm.toLong) // name saw every pair
    // scoring: an all-agree pair beats an all-disagree pair; a pair
    // with year missing scores between its agree/disagree variants
    val pairs = Seq(
      (1L, 2L, true, true, Some(true)),    // true-ish pair
      (3L, 4L, false, false, Some(false)), // clear non-match
      (5L, 6L, true, true, None)           // missing year: no evidence
    ).toDF("id_a", "id_b", "f_name", "f_city", "f_year")
    val scored = Linkage.score(pairs, Seq(col("id_a"), col("id_b")),
        w, fields)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(scored(1L)._1 == 3L)
    assert(scored(1L)._2 > 0.0 && scored(3L)._2 < 0.0)
    assert(scored(5L)._2 < scored(1L)._2 && scored(5L)._2 > scored(3L)._2)
    // the missing field contributes exactly 0: score(5) == name+city
    // agree weights only
    val expected5 = got("name")._7 + got("city")._7
    assert(scored(5L)._2 == expected5)
  }

  test("linkage EM: bit-equal to a naive driver replay; recovers supervised weights unlabeled") {
    import spark.implicits._
    // a mixture EM can actually separate: half the pairs are matches
    // (name agrees 90%, year 80%), half non-matches (10% / 25%); city
    // is a coin flip for everyone (uninformative); year sometimes null
    val rng = new scala.util.Random(41)
    val labeled = (0 until 400).map { i =>
      val isMatch = i % 2 == 0
      def agree(pm: Double, pu: Double) =
        rng.nextDouble() < (if (isMatch) pm else pu)
      val year: Option[Boolean] =
        if (i % 9 == 0) None else Some(agree(0.8, 0.25))
      (isMatch, agree(0.9, 0.1), rng.nextBoolean(), year)
    }
    val df = labeled.toDF("is_match", "f_name", "f_city", "f_year")
    val fields = Seq("name" -> col("f_name"), "city" -> col("f_city"),
      "year" -> col("f_year"))
    // 6 iterations: enough for the mixture to converge so the weight
    // ORDERING asserts below are stable (3, the registered-query count,
    // already separates the classes but leaves name/year within noise)
    val em = Linkage.emTrainWeights(df.drop("is_match"), fields, iters = 6)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(5))))
      .toMap
    // fractional quantScale would truncate in lambda's exact-long
    // denominator while floor(g·q) kept the true scale (ADVICE r13)
    intercept[IllegalArgumentException] {
      Linkage.emTrainWeights(df.drop("is_match"), fields, quantScale = 1234.5)
    }

    // independent single-threaded replay of the quantized EM — same
    // init, same fixed-order factor products, same floor-quantized
    // BIGINT sums, so the result must be BIT-equal
    val q = 1e6; val sQ = 1000000L
    var m = Map("name" -> 0.9, "city" -> 0.9, "year" -> 0.9)
    var u = Map("name" -> 0.1, "city" -> 0.1, "year" -> 0.1)
    var lam = 0.5
    val names = Seq("name", "city", "year")
    def gammas(l: (Boolean, Boolean, Boolean, Option[Boolean])) =
      Map("name" -> Some(l._2), "city" -> Some(l._3), "year" -> l._4)
    for (_ <- 1 to 6) {
      val stats = labeled.map { l =>
        val g = gammas(l)
        def prodOf(p: Map[String, Double]) = names.foldLeft(1.0) {
          (acc, n) => acc * (g(n) match {
            case None => 1.0
            case Some(true) => p(n)
            case Some(false) => 1.0 - p(n) }) }
        val num = lam * prodOf(m)
        val post = num / (num + (1.0 - lam) * prodOf(u))
        val qg = math.floor(post * q).toLong
        val qu = math.floor((1.0 - post) * q).toLong
        (g, qg, qu)
      }
      m = names.map { n =>
        val gm = stats.collect { case (g, qg, _) if g(n) == Some(true) => qg }.sum
        val gt = stats.collect { case (g, qg, _) if g(n).isDefined => qg }.sum
        n -> (gm + sQ).toDouble / (gt + 2 * sQ).toDouble }.toMap
      u = names.map { n =>
        val um = stats.collect { case (g, _, qu) if g(n) == Some(true) => qu }.sum
        val ut = stats.collect { case (g, _, qu) if g(n).isDefined => qu }.sum
        n -> (um + sQ).toDouble / (ut + 2 * sQ).toDouble }.toMap
      lam = (stats.map(_._2).sum + sQ).toDouble /
        (labeled.size * q.toLong + 2 * sQ).toDouble
    }
    names.foreach { n =>
      assert(em(n)._1 == m(n), s"m($n)")
      assert(em(n)._2 == u(n), s"u($n)")
      assert(em(n)._4 == lam, s"lambda via $n")
    }

    // EM found the planted mixture: λ near the true 0.5 prevalence, and
    // the unsupervised weights agree with the supervised fit in sign
    // and ranking (name most informative, city near zero)
    assert(math.abs(lam - 0.5) < 0.1)
    val sup = Linkage.trainWeights(df, col("is_match"), fields)
      .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap // w_agree
    val emW = em.view.mapValues(v => math.log(v._1 / v._2)).toMap
    names.foreach { n =>
      assert(math.abs(emW(n) - sup(n)) < 0.5,
        s"EM w_agree($n)=${emW(n)} vs supervised ${sup(n)}") }
    // both informative fields carry strong positive evidence; the
    // coin-flip field is near zero. (No name-vs-year ORDERING assert:
    // EM's latent boundary legitimately shrinks the strongest field's
    // weight toward the mixture boundary, so the planted 2.2-vs-1.2 gap
    // is not preserved — only informative-vs-uninformative is.)
    assert(emW("name") > 0.8 && emW("year") > 0.8)
    assert(math.abs(emW("city")) < 0.3)
    assert(emW("name") > emW("city") && emW("year") > emW("city"))
  }

  test("resolveEntities: composed candidates→EM→score→CC recovers planted twins; precision/recall vs truth") {
    import spark.implicits._
    // 80 base records with fully disjoint 12-word texts (960-word
    // vocab, no slice overlap); ids 0..39 get a twin at id+1000
    // (text + ' appended', same lang/source, len+9). ids 60..79 share
    // a TEMPLATE text (so they bucket-collide) but carry per-record
    // distinct lang/source and spread lengths — the disagreeing
    // candidate class the unsupervised EM needs to see to separate
    // the mixture.
    val vocab = (0 until 960).map(i => s"w${i}q${(i * 2654435761L) % 97}")
    def text(i: Int): String =
      if (i < 60) (0 until 12).map(k => vocab(i * 12 + k)).mkString(" ")
      else s"shared template words for the colliding family block v$i"
    def lang(i: Int) = if (i < 60) s"l${i % 3}" else s"L$i"
    def src(i: Int) = if (i < 60) s"s${i % 2}" else s"S$i"
    def len(i: Int): Long = if (i < 60) 100L + i else 1000L + 50L * i
    val base = (0 until 80).map(i =>
      (i.toLong, text(i), lang(i), src(i), len(i)))
    val twins = (0 until 40).map(i =>
      (i + 1000L, text(i) + " appended", lang(i), src(i), len(i) + 9L))
    val df = (base ++ twins).toDF("id", "text", "lang", "src", "len")
    val out = Linkage.resolveEntities(df, col("id"), col("text"),
        attrs = Seq("lang" -> col("lang"), "len" -> col("len"),
          "prefix" -> substring(col("text"), 1, 24),
          "source" -> col("src")),
        fields = Seq(
          "lang" -> (col("a_lang") === col("b_lang")),
          "len" -> (abs(col("a_len") - col("b_len")) <= 20L),
          "prefix" -> (col("a_prefix") === col("b_prefix")),
          "source" -> (col("a_source") === col("b_source"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every record got exactly one assignment
    assert(out.size == 120)
    // pairwise precision/recall vs the planted truth
    val truth = (0 until 40).map(i => (i.toLong, i + 1000L)).toSet
    val predicted = out.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).toSeq.sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val tp = (predicted & truth).size
    assert(predicted.nonEmpty)
    val precision = tp.toDouble / predicted.size
    val recall = tp.toDouble / truth.size
    assert(precision == 1.0,
      s"false merges: ${(predicted -- truth).take(5)}")
    assert(recall >= 0.95, s"recall $recall — twins missed")
    // twins resolve to the min id; untouched records keep themselves
    assert(out(5L) == 5L && out(1005L) == 5L)
    for (i <- 40 until 60) assert(out(i.toLong) == i.toLong)
    // the colliding template family did NOT merge (all its field
    // evidence disagrees, so EM scores those candidates negative)
    for (i <- 60 until 80) assert(out(i.toLong) == i.toLong)
  }

  test("mmrRerank: diversifies a redundant cluster; naive greedy replay; lambda=1 is pure relevance") {
    import spark.implicits._
    import graft.operators.Similarity
    val rng = new scala.util.Random(211)
    // 60 candidates in 8-d: ids 0..19 are jitters of direction A (and
    // the most query-similar), 20..39 of B, 40..59 of C
    def base(c: Int) = Array.tabulate(8)(d => if (d == c) 1.0 else 0.0)
    val cands = (0 until 60).map { i =>
      val b = base(i / 20)
      val vec = b.map(_ + (rng.nextDouble() - 0.5) * 0.02).toSeq
      val qcos = (if (i < 20) 0.95 else if (i < 40) 0.90 else 0.85) +
        rng.nextDouble() * 0.01
      (1L, i.toLong, qcos, vec)
    }
    val df = cands.toDF("qid", "nid", "cos", "vec")
    def run(d: org.apache.spark.sql.DataFrame, k: Int, l: Double) =
      Similarity.mmrRerank(d, k, l)
        .collect().map(r => (r.getInt(1), r.getLong(2)))
        .sortBy(_._1).map(_._2).toSeq
    val sel = run(df, k = 6, l = 0.5)
    // pure relevance would pick 6 A-cluster members; MMR must cover
    // all three clusters within the first 3 picks
    assert(sel.take(3).map(_ / 20).toSet == Set(0L, 1L, 2L),
      s"first three picks not diverse: $sel")
    // naive single-threaded greedy with the identical float ops
    val byNid = cands.sortBy(_._2)
    val nrm = byNid.map(c => math.sqrt(c._4.map(x => x * x).sum))
    def sim(i: Int, j: Int): Double = {
      val d = nrm(i) * nrm(j)
      if (d == 0) 0.0
      else byNid(i)._4.zip(byNid(j)._4).map { case (a, b) => a * b }
        .sum / d
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    for (_ <- 1 to 6) {
      var bestScore = Double.NegativeInfinity
      var bestIdx = -1
      for (ci <- byNid.indices; if !chosen.contains(ci)) {
        val maxSim = if (chosen.isEmpty) 0.0
        else chosen.map(sj => sim(ci, sj)).max
        val score = 0.5 * byNid(ci)._3 - 0.5 * maxSim
        if (score > bestScore ||
          (score == bestScore && byNid(ci)._2 < byNid(bestIdx)._2)) {
          bestScore = score; bestIdx = ci
        }
      }
      chosen += bestIdx
    }
    assert(sel == chosen.map(byNid(_)._2).toSeq,
      s"selection diverged from the naive greedy: $sel vs " +
        chosen.map(byNid(_)._2))
    // lambda = 1: pure relevance == cos-desc, nid-asc order
    val rel = run(df, k = 6, l = 1.0)
    val want = cands.sortBy(c => (-c._3, c._2)).take(6).map(_._2)
    assert(rel == want)
    // layout invariance
    assert(run(df.repartition(7), k = 6, l = 0.5) == sel)
    // k > candidates: emits all candidates, ranks contiguous
    val tiny = cands.take(3).toDF("qid", "nid", "cos", "vec")
    assert(run(tiny, k = 6, l = 0.5).size == 3)
  }

  test("linkage score: a field missing from the weights table fails fast") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, true, true))
      .toDF("id_a", "id_b", "f_name", "f_city")
    val labeled = Seq((true, true), (false, false))
      .toDF("is_match", "f_name")
    // weights trained on name only; scoring asks for name AND city
    val w = Linkage.trainWeights(labeled, col("is_match"),
      Seq("name" -> col("f_name")))
    val ex = intercept[Exception] {
      Linkage.score(pairs, Seq(col("id_a"), col("id_b")), w,
        Seq("name" -> col("f_name"), "city" -> col("f_city"))).collect()
    }
    assert(ex.getMessage.contains("no row in the weights table") ||
      Option(ex.getCause).exists(_.getMessage
        .contains("no row in the weights table")))
  }

  test("davies-bouldin: degenerate centroid pairs don't dilute the mean; all-degenerate and k=1 give null") {
    import spark.implicits._
    // clusters 0 and 1 share a centroid (degenerate pair); cluster 2 is
    // apart — db must average over the clusters that HAVE a ratio, not k
    val quality = Seq((0, 0.5), (1, 0.25), (2, 0.25)).toDF("ivf_list", "s")
    val dup = Seq(Seq(0.0, 0.0), Seq(0.0, 0.0), Seq(3.0, 4.0)) // d02 = 5
    val r = Similarity.daviesBouldin(quality, dup).head()
    assert(r.getAs[Long]("k_clusters") == 3L)
    assert(r.getAs[Long]("n_degenerate_pairs") == 2L)
    // every cluster's best valid ratio: c0 vs c2 = (0.5+0.25)/5,
    // c1 vs c2 = (0.25+0.25)/5, c2 vs c0 = (0.25+0.5)/5
    val expected = ((0.75 / 5) + (0.5 / 5) + (0.75 / 5)) / 3.0
    assert(math.abs(r.getAs[Double]("db") - expected) < 1e-12)
    // all centroids identical: no cluster has any ratio — db undefined
    val allDup = Similarity.daviesBouldin(
      Seq((0, 0.5), (1, 0.25)).toDF("ivf_list", "s"),
      Seq(Seq(1.0), Seq(1.0))).head()
    assert(allDup.getAs[Long]("k_clusters") == 2L)
    assert(allDup.getAs[Long]("n_degenerate_pairs") == 2L)
    assert(allDup.isNullAt(allDup.fieldIndex("db")))
    // k = 1: no centroid pairs at all — DB is undefined
    val single = Similarity.daviesBouldin(
      Seq((0, 0.5)).toDF("ivf_list", "s"), Seq(Seq(1.0))).head()
    assert(single.getAs[Long]("k_clusters") == 0L)
    assert(single.isNullAt(single.fieldIndex("db")))
  }

  test("cluster quality: naive scatter bitwise; DB index ranks tight blobs above a smeared layout") {
    val rng = new scala.util.Random(19)
    val centers = Seq(Array.fill(8)(5.0), Array.fill(8)(-5.0),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0 else -5.0))
    def mk(noise: Double) = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * noise).toFloat).toSeq)
    }
    val tightRows = mk(0.3)
    val tight = vecsDf(tightRows: _*)
    val cents = Similarity.trainCentroids(tight, k = 3, iters = 5)
    val quality = Similarity.clusterQuality(
      Similarity.ivfIndex(tight, cents), cents)
    val got = quality.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // independent single-threaded replay of assignment + quantized sums
    def d(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) })
    val naive = tightRows.groupBy { case (_, v) =>
      cents.indices.minBy(ci => (d(v.map(_.toDouble), cents(ci)), ci))
    }.map { case (ci, rows) =>
      val qs = rows.map { case (_, v) =>
        math.floor(d(v.map(_.toDouble), cents(ci)) * 1e9).toLong }
      ci -> ((rows.size.toLong, qs.sum, qs.sum.toDouble / (rows.size * 1e9)))
    }
    assert(got == naive)
    // Davies-Bouldin: one row, no degenerate pairs, and the tight
    // layout beats the same data clustered with a SMEARED (wrong)
    // assignment - judged by the index both times
    val dbTight = Similarity.daviesBouldin(quality, cents)
      .collect().head
    assert(dbTight.getLong(0) == 3L && dbTight.getLong(1) == 0L)
    val smeared = mk(3.5)
    val dfS = vecsDf(smeared: _*)
    val dbLoose = Similarity.daviesBouldin(
      Similarity.clusterQuality(Similarity.ivfIndex(dfS, cents), cents),
      cents).collect().head
    assert(dbTight.getDouble(2) < dbLoose.getDouble(2),
      s"tight ${dbTight.getDouble(2)} should beat loose ${dbLoose.getDouble(2)}")
    // layout invariance is bitwise (quantized BIGINT sums + fixed folds)
    val re = Similarity.clusterQuality(
        Similarity.ivfIndex(tight.repartition(7), cents), cents)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(re == got)
  }

  test("centroid argmin: native loop == composed array-of-dots form, bit for bit") {
    val rng = new scala.util.Random(29)
    val k = 64 // past the codegen budget of the composed form — the case
    val dim = 16 // the native expression exists for
    val centroids = Seq.fill(k)(Seq.fill(dim)(rng.nextGaussian()))
    val df = vecsDf((0L until 500L).map(i =>
      (i, Seq.fill(dim)(rng.nextGaussian().toFloat))): _*)
    // the pre-round-8 composed formulation, verbatim
    val dists = array(centroids.map { c =>
      val norm2 = c.map(x => x * x).sum
      Similarity.dot(col("embedding"), typedLit(c)) * -2 + norm2
    }: _*)
    val composed = (array_position(dists, array_min(dists)) - 1).cast("int")
    val out = df.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), centroids).as("fast"),
        composed.as("slow"))
      .collect()
    out.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"vec ${r.getLong(0)}: native ${r.getInt(1)} vs composed ${r.getInt(2)}"))
    // SQL face + null/mismatch semantics
    df.createOrReplaceTempView("cav")
    val mat = centroids.map(_.mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val sql = spark.sql(
      s"SELECT graft_centroid_argmin(embedding, $mat) FROM cav LIMIT 1")
    assert(!sql.head().isNullAt(0))
    val bad = df.select(Similarity.nearestCentroid(
      slice(col("embedding"), 1, 3), centroids)).head()
    assert(bad.isNullAt(0), "dimension mismatch must yield null")
  }

  test("SemDeDup: pairs = brute force restricted to clusters; min-id survivors; guard") {
    val rng = new scala.util.Random(17)
    val centers = Seq(Array.fill(8)(5.0), Array.fill(8)(-5.0))
    val rows = (0L until 120L).map { i =>
      val c = centers((i % 2).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 1.5).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val centroids = Similarity.trainCentroids(df, k = 2, iters = 5)
    val assigned = Similarity.ivfIndex(df, centroids)
      .select(col("vec_id"), col("ivf_list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val theta = 0.99
    // the method's exact contract: same pairs as unrestricted brute force,
    // MINUS cross-cluster pairs (SemDeDup's published recall trade)
    val pairs = Similarity.semanticDedupPairs(df, centroids, theta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineNearDupPairs(df, theta, maxRows = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == brute.filter { case (a, b) => assigned(a) == assigned(b) })
    assert(pairs.nonEmpty, "fixture produced no near-dup pairs — raise sigma")

    // survivors: reference union-find over the pair graph, min id kept
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expectKept = (0L until 120L).filter(i => find(i) == i).toSet
    val kept = Similarity.semanticDedup(df, centroids, theta)
      .collect().map(_.getLong(0)).toSet
    assert(kept == expectKept)

    // with splitting disabled the quadratic-cluster guard still fails fast
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupPairs(df, centroids, theta, maxClusterRows = 10,
        maxSplitDepth = 0)
    }
    assert(e.getMessage.contains("recursion floor"))
  }

  test("SemDeDup auto-split: skewed corpus succeeds, pairs = brute within final clusters") {
    val rng = new scala.util.Random(31)
    // 90% of rows in one tight blob: flat k=2 assignment puts ~108 rows in
    // one cluster — over maxClusterRows=40, the pre-split fail-fast case
    val rows = (0L until 120L).map { i =>
      val base = if (i % 10 == 0) Array.fill(8)(-6.0) else Array.fill(8)(6.0)
      (i, base.map(x => (x + rng.nextGaussian()).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val centroids = Similarity.trainCentroids(df, k = 2, iters = 3)
    val maxRows = 40L
    val assigned = Similarity.semanticAssign(df, centroids,
        maxClusterRows = maxRows)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == 120, "splitting must not drop or duplicate rows")
    val clusterSizes = assigned.values.groupBy(identity).map { case (c, v) => c -> v.size }
    assert(clusterSizes.values.max <= maxRows, "every final cluster bounded")
    assert(clusterSizes.size > 2, "the oversized cluster must have split")
    // the auto-split contract: pairs = unrestricted brute force MINUS
    // pairs crossing FINAL (post-split) cluster boundaries
    val theta = 0.9
    val pairs = Similarity.semanticDedupPairs(df, centroids, theta,
        maxClusterRows = maxRows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.cosineNearDupPairs(df, theta, maxRows = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == brute.filter { case (a, b) => assigned(a) == assigned(b) })
    assert(pairs.nonEmpty, "fixture produced no near-dup pairs")
    // identical vectors cannot be split by any k — the floor still fails
    // fast instead of recursing forever
    val same = vecsDf((0L until 50L).map(i => (i, Seq.fill(8)(1.0f))): _*)
    val c1 = Similarity.trainCentroids(same, k = 2, iters = 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticAssign(same, c1, maxClusterRows = 10)
    }
    assert(e.getMessage.contains("recursion floor"))
  }

  test("PQ: codes in range, ADC stays near true cosine, blob structure survives") {
    val rng = new scala.util.Random(13)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val cb = Similarity.trainPqCodebooks(df, dim = 16, m = 4, k = 8, iters = 5)
    assert(cb.size == 4 && cb.forall(b => b.size == 8 && b.forall(_.size == 4)))
    val enc = Similarity.pqEncode(df, cb)
    val codes = enc.select(col("pq_code")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 8)),
      "codes out of [0, k) range")
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pq = Similarity.pqTopK(enc, q, k = 5, cb).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cos")))
    assert(pq.length == 15)
    // quantization never pulls a cross-blob vector into the top-5
    assert(pq.forall { case (qid, nid, _) => qid % 3 == nid % 3 },
      s"cross-blob neighbor in ${pq.mkString(",")}")
    // ADC cosine is the true cosine up to codebook error (tight blobs)
    val truth = Similarity.bruteForceTopK(df, q, 300).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) ->
        r.getAs[Double]("cos")).toMap
    pq.foreach { case (qid, nid, adcCos) =>
      assert(math.abs(adcCos - truth((qid, nid))) < 0.05,
        s"ADC cos $adcCos vs true ${truth((qid, nid))} for ($qid,$nid)")
    }
  }

  test("IVF-PQ: probe-all equals the full PQ scan bit for bit; nProbe=1 stays in-blob") {
    val rng = new scala.util.Random(17)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val centroids = Similarity.trainCentroids(df, k = 3, iters = 5)
    val cb = Similarity.trainPqCodebooks(df, dim = 16, m = 4, k = 8, iters = 5)
    val enc = Similarity.pqEncode(Similarity.ivfIndex(df, centroids), cb)
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def toMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("nid"), r.getAs[Double]("cos"))).toMap
    // probing every list = no pruning: same candidates, same ADC
    // arithmetic, so identical output to the full pqTopK scan (incl. cos)
    val full = toMap(Similarity.pqTopK(enc.drop("ivf_list"), q, k = 5, cb)
      .collect())
    val probeAll = toMap(Similarity.ivfPqTopK(enc, q, k = 5, centroids, cb,
      nProbe = 3).collect())
    assert(probeAll == full, "probe-all IVF-PQ diverged from the full PQ scan")
    // one probe on separated blobs: pruning keeps only same-blob neighbors
    val one = Similarity.ivfPqTopK(enc, q, k = 5, centroids, cb, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
    assert(one.length == 15)
    assert(one.forall { case (qid, nid) => qid % 3 == nid % 3 },
      s"cross-blob neighbor after nProbe=1 pruning: ${one.mkString(",")}")
  }

  test("IVF-PQ index: quantizers round-trip bit-exact; probes prune partitions on disk") {
    val rng = new scala.util.Random(19)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val centroids = Similarity.trainCentroids(df, k = 3, iters = 5)
    val cb = Similarity.trainPqCodebooks(df, dim = 16, m = 4, k = 8, iters = 2)
    val enc = Similarity.pqEncode(Similarity.ivfIndex(df, centroids), cb)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Similarity.writeIvfPqIndex(enc, centroids, cb, path)
    val idx = Similarity.readIvfPqIndex(spark, path)
    assert(idx.centroids == centroids, "centroid round-trip not bit-exact")
    assert(idx.codebooks == cb, "codebook round-trip not bit-exact")
    assert(idx.data.count() == 300)

    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lists = Similarity.probedLists(q, idx.centroids, nProbe = 1)
    assert(lists.nonEmpty && lists.size <= 3)
    val pruned = idx.data.filter(col("ivf_list").isin(lists: _*))
    // static partition pruning: unprobed lists' files are never opened
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in pruned plan"))
    assert(scan.selectedPartitions.partitionCount == lists.size,
      s"expected ${lists.size} of 3 list dirs read, " +
        s"got ${scan.selectedPartitions.partitionCount}")
    // and the pruned on-disk path returns exactly the in-memory results
    def toMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("nid"), r.getAs[Double]("cos"))).toMap
    val mem = toMap(Similarity.ivfPqTopK(enc, q, k = 5, centroids, cb,
      nProbe = 1).collect())
    val disk = toMap(Similarity.ivfPqTopK(pruned, q, k = 5, idx.centroids,
      idx.codebooks, nProbe = 1).collect())
    assert(disk == mem, "on-disk pruned search diverged from in-memory")
  }

  test("IVF-PQ append: frozen-quantizer ingestion equals a union re-encode; pruning intact") {
    val rng = new scala.util.Random(23)
    val centers = Seq(Array.fill(16)(5.0), Array.fill(16)(-5.0),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0 else -5.0))
    def mk(ids: Range) = vecsDf(ids.map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }: _*)
    val first = mk(0 until 200)
    val arrivals = mk(200 until 300)
    val centroids = Similarity.trainCentroids(first, k = 3, iters = 5)
    val cb = Similarity.trainPqCodebooks(first, dim = 16, m = 4, k = 8,
      iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_app")
      .toString + "/idx"
    Similarity.writeIvfPqIndex(
      Similarity.pqEncode(Similarity.ivfIndex(first, centroids), cb),
      centroids, cb, path)
    val appended = Similarity.appendToIvfPqIndex(spark, path, arrivals)
    assert(appended == 100)
    val idx = Similarity.readIvfPqIndex(spark, path)
    assert(idx.data.count() == 300, "append lost or duplicated rows")
    // quantizers untouched by the append
    assert(idx.centroids == centroids && idx.codebooks == cb)
    // the appended index IS the union re-encoded under the same frozen
    // quantizers — row-for-row (codes, norms, list assignment)
    val union = Similarity.pqEncode(
        Similarity.ivfIndex(first.unionByName(arrivals), centroids), cb)
      .select("vec_id", "pq_code", "pq_norm", "ivf_list")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("pq_code"), col("pq_norm"),
        col("ivf_list").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(rows(idx.data) == rows(union),
      "appended index diverged from the union re-encode")
    // probe pruning still keys on list directories after the append:
    // arrivals landed INSIDE existing dirs, not as new partitions
    val q = arrivals.filter(col("vec_id") < 203)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lists = Similarity.probedLists(q, idx.centroids, nProbe = 1)
    val pruned = idx.data.filter(col("ivf_list").isin(lists: _*))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in pruned plan"))
    assert(scan.selectedPartitions.partitionCount == lists.size)
    // and an appended vector is findable as its own nearest neighbor
    val top = Similarity.ivfPqTopK(pruned, q, k = 1, idx.centroids,
      idx.codebooks, nProbe = 1).collect()
    assert(top.forall(r => r.getAs[Long]("nid") % 3 == r.getAs[Long]("qid") % 3),
      "appended vectors not served from their blob's list")
  }

  // ----------------------------------------------------------- multimodal

  test("WAV codec: PCM round-trip, chunk walking, and garbage rejection") {
    val samples = Array[Short](0, 100, -200, 32767, -32768, 7)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    val st = Multimodal.decodeWavStats(wav).get
    assert(st == Multimodal.WavStats(8000, 6, 100 - 200 + 32767 - 32768 + 7,
      -32768, 32767))
    // chunk walking: a LIST chunk with an ODD declared length before fmt/
    // data must be skipped with RIFF word alignment intact
    val extra = Array[Byte]('L', 'I', 'S', 'T', 5, 0, 0, 0, 1, 2, 3, 4, 5, 0)
    val body = wav.drop(12)
    val riff = java.nio.ByteBuffer.allocate(12 + extra.length + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    riff.put("RIFF".getBytes("US-ASCII"))
      .putInt(4 + extra.length + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(extra).put(body)
    assert(Multimodal.decodeWavStats(riff.array()).contains(st),
      "unknown odd-length chunk broke the walk")
    // rejection: garbage, truncation, and non-PCM format codes
    assert(Multimodal.decodeWavStats("not a wav at all".getBytes).isEmpty)
    assert(Multimodal.decodeWavStats(wav.take(30)).isEmpty)
    val nonPcm = wav.clone; nonPcm(20) = 3 // format code 3 = IEEE float
    assert(Multimodal.decodeWavStats(nonPcm).isEmpty)
    // a chunk length near Int.MaxValue must not wrap the bounds check
    // into an out-of-bounds read — None, not an exception
    val hostile = wav.clone
    val lenAt = 16 // fmt chunk length field
    java.nio.ByteBuffer.wrap(hostile).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(lenAt, Int.MaxValue - 4)
    assert(Multimodal.decodeWavStats(hostile).isEmpty,
      "overflowing chunk length must be rejected")
  }

  test("GIF codec: multi-frame round trip returns exact frames; garbage rejected") {
    // 3 frames of 4×5 (≥5 rows: the JDK writer corrupts shorter images —
    // encodeGif refuses those), distinct gray per (frame, x, y)
    val gif = Multimodal.encodeGif(4, 5, 3,
      (f, x, y) => (f * 50 + x * 7 + y * 13) % 256)
    val frames = Multimodal.decodeGifStats(gif).get
    assert(frames.size == 3, "container must report all frames")
    for (f <- 0 until 3) {
      val expect = (for (x <- 0 until 4; y <- 0 until 5)
        yield (f * 50 + x * 7 + y * 13) % 256).sum.toLong
      assert(frames(f) == Multimodal.FrameStats(f, 4, 5, expect, expect, expect),
        s"frame $f decoded pixels diverge from the formula")
    }
    assert(Multimodal.decodeGifStats("not a gif".getBytes).isEmpty)
    assert(Multimodal.decodeGifStats(gif.take(20)).isEmpty,
      "truncated container must reject, not throw")
    intercept[IllegalArgumentException](Multimodal.encodeGif(4, 2, 1, (_, _, _) => 0))
  }

  test("frame sampling is even and bounded") {
    assert(Multimodal.sampleFrameIndices(3, 8) == Seq(0, 1, 2))
    assert(Multimodal.sampleFrameIndices(24, 4) == Seq(0, 6, 12, 18))
  }

  test("feature extraction: one row per sampled frame, deterministic") {
    import spark.implicits._
    val items = Multimodal.fromDocuments(spark,
      docsDf((1L, "hello world"), (2L, "other doc")).withColumn("lang", lit("en")))
    val out1 = Multimodal.extractFeatures(items, 4).collect()
    val out2 = Multimodal.extractFeatures(items, 4).collect()
    assert(out1.length == out1.map(f => (f.media_id, f.frame_idx)).distinct.length)
    assert(out1.map(f => (f.media_id, f.frame_idx, f.feature.toSeq)).sortBy(x => (x._1, x._2)).toSeq ==
      out2.map(f => (f.media_id, f.frame_idx, f.feature.toSeq)).sortBy(x => (x._1, x._2)).toSeq)
    assert(out1.forall(_.feature.length == Multimodal.FeatureDim))
  }

  test("dHash: exact twin 0 bits, one-pixel edit <= 2 bits, scale-invariant, banded pairs") {
    def rgb(id: Long)(x: Int, y: Int): Int = {
      val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
      val g = ((id * 17 + x * 5 + y * 3) % 256).toInt
      val b = ((id * 7 + x * 11 + y * 19) % 256).toInt
      (r << 16) | (g << 8) | b
    }
    val base = Multimodal.encodePng(9, 8, rgb(5))
    val h = Multimodal.dHash64(base).get
    // identical payload → identical hash
    assert(Multimodal.dHash64(Multimodal.encodePng(9, 8, rgb(5))).get == h)
    // one edited pixel changes only the two comparisons that touch it
    val edited = Multimodal.encodePng(9, 8, (x, y) =>
      if (x == 4 && y == 3) rgb(5)(x, y) ^ 0x800000 else rgb(5)(x, y))
    val he = Multimodal.dHash64(edited).get
    assert(java.lang.Long.bitCount(h ^ he) <= 2)
    // pixel-doubling to 18x16 samples back to the same grid (floor math)
    val doubled = Multimodal.encodePng(18, 16, (x, y) => rgb(5)(x / 2, y / 2))
    assert(Multimodal.dHash64(doubled).get == h, "dHash must be scale-invariant")
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    // the banded pipeline surfaces exactly the planted twins
    import spark.implicits._
    val images = (0L until 30L).flatMap { id =>
      Seq(id -> Multimodal.encodePng(9, 8, rgb(id))) ++
        (if (id < 8) Seq((id + 100) -> Multimodal.encodePng(9, 8, rgb(id))) else Nil)
    }.toDF("id", "payload")
    val sigs = Multimodal.imageDHashes(images, col("id"), col("payload"))
    val pairs = Dedup.simhashCandidatesFromSigs(sigs, bands = 4)
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("ha")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("hb")), "id_b")
      .filter(Dedup.hamming64(col("ha"), col("hb")) === 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 8L).map(i => (i, i + 100)).toSet.subsetOf(pairs),
      s"planted twins missing from $pairs")
  }

  test("pHash: DCT table exact, noise-robust where dHash is not, brightness-invariant") {
    def rgb(id: Long)(x: Int, y: Int): Int = {
      val r = ((id * 31 + x * 7 + y * 13) % 200).toInt
      val g = ((id * 17 + x * 5 + y * 3) % 200).toInt
      val b = ((id * 7 + x * 11 + y * 19) % 200).toInt
      (r << 16) | (g << 8) | b
    }
    // the fixed-point basis: odd-u rows cancel pairwise EXACTLY (the
    // brightness-invariance mechanism), DC row is all 2^14
    for (u <- 1 until 8 by 2; x <- 0 until 16)
      assert(Multimodal.DctT(u)(x) == -Multimodal.DctT(u)(31 - x),
        s"odd-u row $u not antisymmetric at $x")
    assert(Multimodal.DctT(0).forall(_ == 16384L))
    val base = Multimodal.encodePng(32, 32, rgb(5))
    val h = Multimodal.pHash64(base).get
    // identical payload and pixel-doubled (64x64) payload hash the same
    assert(Multimodal.pHash64(Multimodal.encodePng(32, 32, rgb(5))).get == h)
    val doubled = Multimodal.encodePng(64, 64, (x, y) => rgb(5)(x / 2, y / 2))
    assert(Multimodal.pHash64(doubled).get == h, "pHash must be scale-invariant")
    // ~10 scattered bumped pixels: pHash barely moves (median-thresholded
    // global frequencies), while dHash flips more bits on the same edit
    def noisy(w: Int, h0: Int) = Multimodal.encodePng(w, h0, (x, y) =>
      if ((x * 7 + y * 11) % 97 == 0) {
        val p = rgb(5)(x, y)
        (((((p >> 16) & 0xff) + 50) % 200) << 16) | (p & 0xffff)
      } else rgb(5)(x, y))
    val hp = Multimodal.pHash64(noisy(32, 32)).get
    assert(java.lang.Long.bitCount(h ^ hp) <= 4,
      s"pHash noise bits ${java.lang.Long.bitCount(h ^ hp)}")
    // brightness shift: +24 on every channel leaves the hash within a bit
    val bright = Multimodal.encodePng(32, 32, (x, y) => {
      val p = rgb(5)(x, y)
      (((p >> 16) + 24) << 16) | ((((p >> 8) & 0xff) + 24) << 8) |
        ((p & 0xff) + 24)
    })
    val hb = Multimodal.pHash64(bright).get
    assert(java.lang.Long.bitCount(h ^ hb) <= 1,
      s"brightness bits ${java.lang.Long.bitCount(h ^ hb)}")
    // bit 63 never set (63-bit hash) and garbage is rejected
    assert(h >= 0 && Multimodal.pHash64("nope".getBytes("UTF-8")).isEmpty)
  }

  test("EXIF: both byte orders round-trip; sub-IFDs followed; corrupt bytes give honest None") {
    def enc(le: Boolean, gps: Option[String] = Some("N")) =
      Multimodal.encodeExifJpeg(le, make = "CamCo", model = "M-1",
        orientation = 6, dateTime = "2023:01:05 10:00:00",
        xResolution = (72L, 1L), exposure = (1L, 125L), iso = 400,
        pixelX = 1920L, gpsLatRef = gps)
    for (le <- Seq(true, false)) {
      val tags = Multimodal.exifTags(enc(le)).get
      assert(tags("Make") == "CamCo")       // out-of-line ASCII
      assert(tags("Model") == "M-1")        // inline ASCII (4 bytes w/ NUL)
      assert(tags("Orientation") == "6")    // inline SHORT
      assert(tags("XResolution") == "72/1") // out-of-line RATIONAL
      assert(tags("DateTime") == "2023:01:05 10:00:00")
      assert(tags("ExposureTime") == "1/125") // Exif sub-IFD
      assert(tags("ISOSpeedRatings") == "400")
      assert(tags("PixelXDimension") == "1920")
      assert(tags("GPSLatitudeRef") == "N") // GPS sub-IFD
    }
    // type-1 BYTE (GPSAltitudeRef): rendered as a decimal integer
    val withAlt = Multimodal.encodeExifJpeg(littleEndian = true,
      make = "CamCo", model = "M-1", orientation = 1,
      dateTime = "2023:01:05 10:00:00", xResolution = (72L, 1L),
      exposure = (1L, 125L), iso = 400, pixelX = 1920L,
      gpsLatRef = Some("N"), gpsAltRef = Some(1))
    assert(Multimodal.exifTags(withAlt).get("GPSAltitudeRef") == "1")
    // no GPS pointer -> no GPS tag, everything else intact
    val noGps = Multimodal.exifTags(enc(le = true, gps = None)).get
    assert(!noGps.contains("GPSLatitudeRef") && noGps("Make") == "CamCo")
    // bare TIFF (no JPEG wrapper) parses too: strip SOI+APP1 header
    val jpeg = enc(le = true)
    val tiff = jpeg.drop(12).dropRight(2) // SOI(2)+APP1 marker+len(4)+Exif\0\0(6)
    assert(Multimodal.exifTags(tiff).get("Make") == "CamCo")
    // honest None, never a throw, on every malformed shape
    assert(Multimodal.exifTags(null).isEmpty)
    assert(Multimodal.exifTags(Array[Byte]()).isEmpty)
    assert(Multimodal.exifTags("not an image".getBytes).isEmpty)
    assert(Multimodal.exifTags(Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xD9.toByte)).isEmpty)   // JPEG without APP1
    for (cut <- Seq(4, 12, 20, 40, jpeg.length - 20))
      assert(Multimodal.exifTags(jpeg.take(cut)).isEmpty, s"cut=$cut")
    // corrupt TIFF magic / IFD offset beyond the payload
    val badMagic = jpeg.clone; badMagic(12) = 'X'.toByte
    assert(Multimodal.exifTags(badMagic).isEmpty)
    val badOff = jpeg.clone; badOff(20) = 0x7F.toByte // entry count -> 127: absurd
    assert(Multimodal.exifTags(badOff).isEmpty)
  }

  test("audioDHash: volume-invariant, local edit few bits, garbage rejected, banded pairs") {
    def samples(id: Long, n: Int): Array[Short] =
      Array.tabulate(n)(i => (((id * 37 + i * 73) % 4001) - 2000).toShort)
    val base = Multimodal.encodeWavPcm16(8000, samples(5, 200))
    val h = Multimodal.audioDHash64(base).get
    // identical payload → identical hash
    assert(Multimodal.audioDHash64(
      Multimodal.encodeWavPcm16(8000, samples(5, 200))).get == h)
    // EXACT volume doubling preserves every window-sum comparison
    val doubled = Multimodal.encodeWavPcm16(8000,
      samples(5, 200).map(s => (s * 2).toShort))
    assert(Multimodal.audioDHash64(doubled).get == h,
      "envelope-delta hash must be volume-invariant")
    // a loud burst over samples 10..19 (windows 3..6 of the 65-window
    // envelope at n=200) flips SOME of comparison bits 2..6 and nothing
    // outside them
    val edited = samples(5, 200)
    (10 until 20).foreach(i => edited(i) = 32000.toShort)
    val he = Multimodal.audioDHash64(
      Multimodal.encodeWavPcm16(8000, edited)).get
    assert((h ^ he) != 0, "a 16x amplitude burst must disturb the envelope")
    assert(((h ^ he) & ~0x7cL) == 0,
      f"edit leaked outside windows 3..6: diff ${h ^ he}%x")
    assert(Multimodal.audioDHash64("not audio".getBytes("UTF-8")).isEmpty)
    // the banded pipeline surfaces the planted volume twins at Hamming 0
    import spark.implicits._
    val audio = (0L until 30L).flatMap { id =>
      Seq(id -> Multimodal.encodeWavPcm16(8000, samples(id, 200))) ++
        (if (id < 8) Seq((id + 100) -> Multimodal.encodeWavPcm16(8000,
          samples(id, 200).map(s => (s * 2).toShort))) else Nil)
    }.toDF("id", "payload")
    val sigs = Multimodal.audioFingerprints(audio, col("id"), col("payload"))
    val pairs = Dedup.simhashCandidatesFromSigs(sigs, bands = 4)
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("ha")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("hb")), "id_b")
      .filter(Dedup.hamming64(col("ha"), col("hb")) === 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 8L).map(i => (i, i + 100)).toSet.subsetOf(pairs),
      s"planted volume twins missing from $pairs")
  }

  test("ImageIO codec: JPEG constant-gray round-trips exactly; non-constant decodes lossily") {
    // the oracle-able class: every gray level, assorted non-8-multiple dims
    for (v <- Seq(0, 1, 17, 128, 200, 254, 255)) {
      val (w, h) = (3 + v % 6, 2 + v % 5)
      val jpg = Multimodal.encodeJpeg(w, h, (_, _) => (v << 16) | (v << 8) | v)
      assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8, "JPEG magic")
      val st = Multimodal.decodeImageStats(jpg).get
      assert(st == Multimodal.ImageStats(w, h,
        w.toLong * h * v, w.toLong * h * v, w.toLong * h * v),
        s"gray $v must survive the lossy codec bit-exactly")
    }
    // a non-constant image goes through the same real codec: dimensions
    // exact, pixels approximate (it IS lossy — that's the point)
    val jpg = Multimodal.encodeJpeg(8, 8, (x, y) => ((x * 32) << 16) | ((y * 32) << 8) | 128)
    val st = Multimodal.decodeImageStats(jpg).get
    assert(st.width == 8 && st.height == 8)
    val exactR = (0 until 8).map(_ * 32L).sum * 8
    assert(math.abs(st.sumR - exactR) < exactR / 5 && st.sumR != exactR,
      "lossy decode should be near but not exactly the source sums")
  }

  test("ImageIO codec: PNG round-trip returns actual pixels; garbage falls back to stub") {
    // known 2×2 image: exact channel sums survive the lossless round trip
    val colors = Map((0, 0) -> 0x102030, (1, 0) -> 0x405060,
      (0, 1) -> 0x708090, (1, 1) -> 0xa0b0c0)
    val png = Multimodal.encodePng(2, 2, (x, y) => colors((x, y)))
    val st = Multimodal.decodeImageStats(png).get
    assert(st == Multimodal.ImageStats(2, 2,
      0x10 + 0x40 + 0x70 + 0xa0, 0x20 + 0x50 + 0x80 + 0xb0,
      0x30 + 0x60 + 0x90 + 0xc0))
    // real features: channel means in [0,1] from the same pixels, and the
    // luminance histogram bins sum to 1 (all pixels binned exactly once)
    val feats = Multimodal.decodeFrameImageIO(png, 0)
    assert(feats.length == Multimodal.FeatureDim)
    assert(math.abs(feats(0) - st.sumR / 4.0 / 255.0) < 1e-6)
    assert(math.abs(feats.drop(4).sum - 1.0f) < 1e-6)
    // a non-image payload is indistinguishable from the stub path
    val junk = "definitely not a png".getBytes("UTF-8")
    assert(Multimodal.decodeImageStats(junk).isEmpty)
    assert(Multimodal.decodeFrameImageIO(junk, 2).toSeq ==
      Multimodal.decodeFrame(junk, 2).toSeq)
    // the extract pipeline runs the real codec end to end
    import spark.implicits._
    val items = spark.createDataset(Seq(
      graft.operators.MediaItem(1L, "image/png", png, 2, 2, 1),
      graft.operators.MediaItem(2L, "text/plain", junk, 0, 0, 1)))
    val out = Multimodal.extractFeatures(items, framesPerItem = 1,
        codec = Multimodal.decodeFrameImageIO)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    assert(out(1L) == feats.toSeq)
    assert(out(2L) == Multimodal.decodeFrame(junk, 0).toSeq)
  }

  test("resize: nearest-neighbor picks exact source pixels; fitDims never upscales") {
    // 4×2 source with distinct pixels: downscale to 2×1 must select
    // exactly (x*4/2, y*2/1) = (0,0) and (2,0) — nothing blended
    val src = Array.tabulate(4, 2)((x, y) => (x << 16) | (y << 8) | (x + y))
    val png = Multimodal.encodePng(4, 2, (x, y) => src(x)(y))
    val out = Multimodal.resizeImage(png, 2, 1).get
    val st = Multimodal.decodeImageStats(out).get
    val expected = Seq(src(0)(0), src(2)(0))
    assert(st == Multimodal.ImageStats(2, 1,
      expected.map(p => (p >> 16) & 0xff).sum,
      expected.map(p => (p >> 8) & 0xff).sum,
      expected.map(p => p & 0xff).sum))
    // identity resize is a lossless round trip
    assert(Multimodal.decodeImageStats(Multimodal.resizeImage(png, 4, 2).get)
      .contains(Multimodal.decodeImageStats(png).get))
    // fitDims: integer ceil on downscale, identity at-or-under the cap
    assert(Multimodal.fitDims(8, 6, 3) == ((3, 3)))
    assert(Multimodal.fitDims(7, 3, 3) == ((3, 2)))
    assert(Multimodal.fitDims(2, 3, 3) == ((2, 3)))
    assert(Multimodal.resizeImage("not an image".getBytes, 2, 2).isEmpty)
  }

  test("int8 quantization: roundtrip error bounded by scale/2, zero vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.125f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(3.0f, -2.0f, 0.001f, 1.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, col("embedding"), "q")
      .withColumn("back", Similarity.dequantizeInt8(col("q")))
      .select(col("vec_id"), col("q.scale"), col("embedding"), col("back"))
      .collect()
    out.foreach { r =>
      val scale = r.getDouble(1)
      val orig = r.getSeq[Float](2)
      val back = r.getSeq[Double](3)
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o.toDouble - b) <= scale / 2 + 1e-12) }
      if (r.getLong(0) == 2L) assert(scale == 0.0 && back.forall(_ == 0.0))
    }
  }

  // ------------------------------------------------------------- curation

  test("decontamination flags gram-sharing docs and removes them; bench side broadcasts") {
    val train = docsDf(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "totally unrelated words in this training document here"),
      (3L, "prefix words then alpha beta gamma delta epsilon zeta eta theta"))
    val bench = docsDf((100L, "alpha beta gamma delta epsilon zeta eta theta"))
    val hits = Curation.contaminationHits(train, col("doc_id"), col("text"),
      bench, col("text"), k = 8)
    val m = hits.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set(1L, 3L))
    assert(m.values.forall(_ == 1L))
    assert(hits.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val clean = Curation.decontaminate(train, col("doc_id"), col("text"),
      bench, col("text"), k = 8)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("fuzzy decontamination catches a paraphrase the exact k-gram check misses") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val train = docsDf(
      1L -> base,
      2L -> "uniform victor whiskey xray yankee zulu one two three four five six")
    // paraphrase: one word swapped mid-passage — kills every 8-gram
    // through that position, keeps shingle Jaccard high
    val bench = docsDf(100L -> base.replace("india", "CHANGED"))
      .select(col("text"))
    // the exact checker at the published window sees nothing
    val exact = Curation.contaminationHits(train, col("doc_id"), col("text"),
      bench, col("text"), k = 13).collect()
    assert(exact.isEmpty, s"13-gram check should miss the paraphrase")
    // the fuzzy checker flags doc 1 and only doc 1
    val fuzzy = Curation.fuzzyContaminationHits(train, col("doc_id"),
        col("text"), bench, col("text"), minJaccard = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(fuzzy.keySet == Set("1"), s"flagged: ${fuzzy.keySet}")
    assert(fuzzy("1") > 0.5 && fuzzy("1") < 1.0)
    val kept = Curation.fuzzyDecontaminate(train, col("doc_id"), col("text"),
      bench, col("text")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("mixture sampling: deterministic, exact at rates 0 and 1, near target between") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val rates = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.5)
    def run() = Curation.mixtureSample(df, col("doc_id"), col("source"),
        rates, defaultRate = 0.25)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = run()
    assert(!counts.contains("src0"))
    assert(counts("src1") == 1000L)
    assert(math.abs(counts("src2") - 500.0) < 100)
    assert(math.abs(counts("src3") - 250.0) < 80)
    assert(run() == counts) // same rows every run: no RNG state
    // a rate within 2^-33 of 1.0 must behave as ~always-keep, not the
    // 9-hex-digit threshold accident that would keep nothing
    val nearOne = Curation.mixtureSample(df, col("doc_id"), col("source"),
      Map("src1" -> (1.0 - 1e-12)), defaultRate = 1.0).count()
    assert(nearOne == 4000L)
  }

  test("boilerplate line removal: corpus-frequent lines stripped, order and blanks kept") {
    import spark.implicits._
    val banner = "ACCEPT OUR COOKIES"
    val df = Seq(
      (1L, s"$banner\nunique one\n\nunique two"),
      (2L, s"$banner\nother content"),
      (3L, s"$banner\nmore text\n$banner"), // repeated inside one doc: df counts DISTINCT docs
      (4L, banner), // all-boilerplate doc → empty string, not a dropped row
      (5L, "untouched doc")).toDF("doc_id", "text")
    val out = Curation.removeBoilerplateLines(df, col("doc_id"), col("text"), minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one\n\nunique two", "order and blank line must survive")
    assert(out(2L) == "other content")
    assert(out(3L) == "more text", "every occurrence of a boilerplate line goes")
    assert(out(4L) == "")
    assert(out(5L) == "untouched doc")
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // below the threshold nothing is template
    val loose = Curation.removeBoilerplateLines(df, col("doc_id"), col("text"), minDf = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(2L) == s"$banner\nother content")
  }

  test("stratified sample: exact n per domain, same member set under any layout") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curation.stratifiedSample(d, col("doc_id"), col("source"), n = 40)
        .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(0))).toSet
    val out = run(df)
    val bySrc = out.groupBy(_._1)
    assert(bySrc.keySet == Set("src0", "src1", "src2"))
    assert(bySrc.values.forall(_.size == 40), "exact n per stratum")
    assert(bySrc.values.forall(_.map(_._2).toSeq.sorted == (1 to 40)),
      "ranks must be contiguous 1..n")
    // member SET is a function of ids only — physical layout irrelevant
    assert(run(df.repartition(17)) == out)
    // small stratum: all rows kept, never padded
    val tiny = (0L until 10L).map(i => (i, "only")).toDF("doc_id", "source")
    assert(run(tiny).size == 10)
  }

  test("jaccardJoinPrefix: differential vs brute force on fuzzed corpora; no cartesian") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    for (trial <- 0 until 3) {
      // small vocab forces heavy overlap — the worst case for candidate
      // pruning, the easy case for accidental false negatives
      val vocab = 12 + trial * 8
      val corpus = (0 until 80).map { i =>
        val n = 3 + rnd.nextInt(10)
        (i.toLong, Seq.fill(n)(s"v${rnd.nextInt(vocab)}").mkString(" "))
      }
      val t = Seq(0.5, 0.7, 0.9)(trial)
      val df = corpus.toDF("doc_id", "text").repartition(1 + trial * 5)
      val got = graft.operators.Dedup.jaccardJoinPrefix(df, col("doc_id"),
          col("text"), minJaccard = t)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // brute-force truth on the driver
      val sets = corpus.map { case (id, tx) =>
        id -> tx.split("\\s+").filter(_.nonEmpty).toSet }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got == want, s"trial $trial t=$t: ${got.size} vs ${want.size}")
    }
    // plan must stay an equi-join on prefix tokens — no cartesian
    val plan = graft.operators.Dedup.jaccardJoinPrefix(
      Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "prefix join must not plan a cartesian product")
  }

  test("jaccardJoinPrefix: hot prefix posting fails fast instead of capping") {
    import spark.implicits._
    // every doc is the same single token → that token is in every prefix
    val df = (0 until 50).map(i => (i.toLong, "same")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.operators.Dedup.jaccardJoinPrefix(df, col("doc_id"),
        col("text"), 0.9, maxPosting = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxPosting")),
      s"expected the maxPosting guard, got: $e")
  }

  test("editDistanceJoin: differential vs all-pairs levenshtein on fuzzed strings") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(909)
    for (trial <- 0 until 3) {
      // 2-letter alphabet, short strings → dense natural dist-1 pairs
      val strs = (0 until 120).map { i =>
        val n = 1 + rnd.nextInt(6)
        (i.toLong, Seq.fill(n)(('a' + rnd.nextInt(2)).toChar).mkString)
      }
      val df = strs.toDF("id", "s").repartition(1 + trial * 7)
      val got = Dedup.editDistanceJoin(df, col("id"), col("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getInt(4))).toSet
      // brute-force truth: same distinct-string min-id collapse
      val reps = strs.groupBy(_._2).map { case (s, xs) =>
        (xs.map(_._1).min, s) }.toSeq
      val want = (for {
        (ia, sa) <- reps; (ib, sb) <- reps
        if ia < ib && lev(sa, sb) == 1
      } yield (ia, ib, sa, sb, 1)).toSet
      assert(got == want, s"trial $trial: ${got.size} vs ${want.size}")
    }
  }

  test("editDistanceJoin: edit kinds, exact-dup collapse, guards, no cartesian") {
    import spark.implicits._
    val df = Seq(
      (10L, "kitten"), (11L, "kitten"),        // exact dups collapse
      (12L, "sitten"),                          // substitution of 10
      (13L, "kittens"),                         // insertion at end
      (14L, "itten"),                           // deletion at front
      (15L, "ikttne"),                          // jumbled: dist > 1
      (16L, "banana")).toDF("id", "s")
    val got = Dedup.editDistanceJoin(df, col("id"), col("s"))
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // rep of the kitten group is min id 10; 11 never appears
    assert(got == Set((10L, 12L, 1), (10L, 13L, 1), (10L, 14L, 1),
      (12L, 14L, 1)), s"got $got") // sitten↔itten: drop the 's', one edit
    // maxLen fail-fast
    val long = Seq((1L, "x" * 40)).toDF("id", "s")
    val e1 = intercept[Exception] {
      Dedup.editDistanceJoin(long, col("id"), col("s"), maxLen = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e1).exists(_.contains("maxLen")), s"got: $e1")
    // hub bucket fail-fast: "aX" all share deletion variant "a"
    val hub = (0 until 30).map(i => (i.toLong, "a" + ('a' + i % 26).toChar))
      .toDF("id", "s")
    val e2 = intercept[Exception] {
      Dedup.editDistanceJoin(hub, col("id"), col("s"), maxBucket = 5).collect()
    }
    assert(messages(e2).exists(_.contains("maxBucket")), s"got: $e2")
    // candidate generation must stay an equi-join — no cartesian
    val plan = Dedup.editDistanceJoin(df, col("id"), col("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "edit-distance join must not plan a cartesian product")
  }

  test("jaro-winkler: kernel pinned to DuckDB, join finds typo shapes, guards") {
    import spark.implicits._
    import graft.plans.JaroKernel
    def jw(a: String, b: String) =
      JaroKernel.jaroWinkler(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    def jr(a: String, b: String) =
      JaroKernel.jaro(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // exact doubles probed from DuckDB 1.0's jaro(_winkler)_similarity —
    // the full contract: classic pairs, byte (not codepoint) semantics,
    // empty-string zero, window-0 transposition, boost threshold + cap
    assert(jr("MARTHA", "MARHTA") == 0.9444444444444445)
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jr("aéb", "aeb") == 0.7222222222222222) // 4 bytes vs 3 bytes
    assert(jw("aéb", "aeb") == 0.75)
    assert(jr("日本語", "日本誤") == 0.9259259259259259)
    assert(jw("日本語", "日本誤") == 0.9555555555555556)
    assert(jr("", "") == 0.0 && jw("a", "") == 0.0) // DuckDB, not classical
    assert(jr("ab", "ba") == 0.0)    // window 0: same-position only
    assert(jw("abcd", "abZZZZZZZZZZZZZZ") == 0.5416666666666666) // no boost ≤ 0.7
    assert(jw("prefixmatchlong", "prefixmatchlongg") == 0.9874999999999999)
    // codegen path == kernel (the DataFrame route runs doGenCode)
    val pairs = Seq(("MARTHA", "MARHTA"), ("aéb", "aeb"), ("", ""),
      ("DWAYNE", "DUANE")).toDF("a", "b")
    val viaDf = pairs.select(
        call_function("graft_jaro_winkler", col("a"), col("b"))).as[Double]
      .collect().toSeq
    assert(viaDf == Seq(0.9611111111111111, 0.75, 0.0, 0.8400000000000001))
    // join: transposition and substitution typos surface; min-id collapse;
    // unrelated strings stay apart
    val df = Seq(
      (10L, "martha stewart"), (11L, "martha stewart"), // exact dups
      (12L, "marhta stewart"),                           // transposition
      (13L, "martha stewnrt"),                           // substitution
      (14L, "zygomorphic")).toDF("id", "s")
    val got = Dedup.jaroWinklerJoin(df, col("id"), col("s"), 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 12L), (10L, 13L), (12L, 13L)), s"got $got")
    // block-size fail-fast
    val hub = (0 until 40).map(i => (i.toLong, f"aaa$i%02d")).toDF("id", "s")
    val e = intercept[Exception] {
      Dedup.jaroWinklerJoin(hub, col("id"), col("s"), 0.9, maxBlock = 5)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxBlock")), s"got: $e")
    // candidate generation must stay an equi-join on the block key
    val plan = Dedup.jaroWinklerJoin(df, col("id"), col("s"), 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "jaro-winkler join must not plan a cartesian product")
  }

  test("weighted sampling: deterministic, exact n, inclusion rises with weight") {
    import spark.implicits._
    // two interleaved weight classes in one stratum: heavy rows weigh 20×
    val df = (0L until 4000L)
      .map(i => (i, "s", if (i % 2 == 0) 200.0 else 10.0))
      .toDF("doc_id", "stratum", "w")
    def run(d: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
            org.apache.spark.sql.Column, org.apache.spark.sql.Column,
            Int) => org.apache.spark.sql.DataFrame) =
      f(d, col("doc_id"), col("stratum"), col("w"), 200)
        .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq.sortBy(_._2)
    for (face <- Seq(Curation.weightedPrioritySample _,
        Curation.weightedSampleAES _)) {
      val out = run(df, face)
      assert(out.size == 200, "exact n per stratum")
      assert(out.map(_._2) == (1 to 200), "ranks contiguous 1..n")
      // physical layout irrelevant — priority is a pure function of (id, w)
      assert(run(df.repartition(13), face) == out)
      // heavy rows (even ids) must dominate the sample: with a 20× weight
      // ratio both keys give P(heavy) ≈ 20/21 per draw; 200 draws at even
      // a loose bound should exceed 150
      val heavy = out.count(_._1 % 2 == 0)
      assert(heavy > 150, s"weight bias too weak: $heavy/200 heavy rows")
    }
    // weight ≤ 0 / null rows can never be drawn
    val edge = Seq((1L, "s", 5.0), (2L, "s", 0.0), (3L, "s", -1.0))
      .toDF("doc_id", "stratum", "w")
      .unionByName(Seq((4L, "s")).toDF("doc_id", "stratum")
        .withColumn("w", lit(null).cast("double")))
    val kept = Curation.weightedPrioritySample(edge, col("doc_id"),
      col("stratum"), col("w"), 10).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("bigrams: n−1 adjacent pairs; empty and single-token arrays are empty") {
    import spark.implicits._
    val out = Seq("a b c d", "solo", "", "x  y")
      .toDF("text")
      .select(TA.bigrams(TA.wsTokens(col("text"))).as("bg"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(out == Seq(Seq("a b", "b c", "c d"), Seq(), Seq(), Seq("x y")))
  }

  test("sequence packing: greedy walk, budget respected, oversized isolated") {
    import spark.implicits._
    val df = Seq((1L, 100), (2L, 100), (3L, 100), (4L, 300), (5L, 10), (6L, 250))
      .toDF("doc_id", "n_tokens")
    val out = Curation.packSequences(df, col("doc_id"), col("n_tokens"),
        budget = 256, numPartitions = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val byPack = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(byPack.size == 5) // {1,2}, {3}, {4-oversized}, {5}, {6}
    assert(byPack.forall { case (p, tot) =>
      tot <= 256 || out.count(_._3 == p) == 1 })
  }

  test("sequence packing is partition-parallel and loses no documents") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, 50 + (i % 7).toInt * 30))
      .toDF("doc_id", "n_tokens")
    val out = Curation.packSequences(df, col("doc_id"), col("n_tokens"),
      budget = 512, numPartitions = 8)
    assert(out.count() == 1000)
    val packs = out.groupBy("pack_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n")).collect()
    assert(packs.forall(r => r.getLong(1) <= 512 || r.getLong(2) == 1))
  }

  test("bloom prune: superset of the true keys, bounded false positives, codegen'd") {
    import spark.implicits._
    // Range source (not LocalRelation): keeps the Filter in the physical
    // plan instead of being constant-folded by ConvertToLocalRelation
    val big = spark.range(0, 20000).select(col("id").as("k"),
      (col("id") % 100).as("v"))
    val small = Seq(1L, 5L, 42L, 9999L).toDF("key")
    val pruned = graft.operators.Bloom.prune(big, col("k"), small, col("key"),
      numBits = 1 << 14, numHashes = 5)
    val kept = pruned.select("k").collect().map(_.getLong(0)).toSet
    assert(Set(1L, 5L, 42L, 9999L).subsetOf(kept)) // no false negatives, ever
    assert(kept.size < 200) // 2^14 bits / 4 keys → fpp ≪ 1%
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("Filter") && !plan.toLowerCase.contains("udf"))
  }
}
