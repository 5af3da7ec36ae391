package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-corpus n-gram language-model scoring — the CCNet-style
  * quality filter (Wenzek et al. 2020): score candidate documents by how
  * ordinary their token transitions look under a model trained on a
  * trusted reference corpus, keep the head/middle of the distribution.
  *
  * Scale design (the decontamination discipline, `Curation`): the model
  * is CAPPED at `maxBigrams` rows by a deterministic total order
  * (count desc, then bigram lexicographic) and BROADCAST, so the scored
  * corpus never shuffles — per document only (id, three counters) reach
  * the one aggregation. Training is two hash aggregations over the
  * reference corpus.
  *
  * Two scoring surfaces:
  *  - [[transitionStats]] — exact integer counters (+ one division):
  *    engine-portable, which is what the registered `t_lm_transitions`
  *    query's DuckDB oracle checks end to end;
  *  - [[perplexity]] — the classic add-α smoothed bigram perplexity;
  *    transcendental (ln/exp), so it is golden-tested in ScalaTest
  *    against a naive replay instead of the SQL oracle.
  */
object NgramLm {

  /** Adjacent-token bigrams of a token array as `(_1, _2)` tuples
    * (r16: a JVM loop, 3× faster than the interpreted HOF
    * form on the sibling string-bigram shape). Tuples, not a private
    * case class: the udf's output encoder is generated code, and Janino
    * cannot call a private nested class's accessors, which sent the
    * stage to the interpreted fallback. STABLE single instance —
    * ScalaUDF canonicalizes by function reference, so a fresh closure
    * per call would break plan-cache/exchange reuse (the
    * Dedup.shinglePosting lesson). <2 tokens → empty, null toks → empty
    * (both explode to zero rows). */
  private val bigramStructsUdf =
    udf((toks: Seq[String]) =>
      if (toks == null || toks.length < 2) Array.empty[(String, String)]
      else {
        val arr = toks.toArray
        Array.tabulate(arr.length - 1)(i => (arr(i), arr(i + 1)))
      })

  private def tokenized(df: DataFrame, idCol: Column, textCol: Column) =
    df.select(idCol.as("id"),
      TextAnalysis.wsTokens(TextAnalysis.normalized(textCol)).as("toks"))

  private def transitions(df: DataFrame, idCol: Column, textCol: Column) =
    tokenized(df, idCol, textCol)
      .select(col("id"), explode(bigramStructsUdf(col("toks"))).as("bg"))
      .select(col("id"), col("bg._1").as("w1"), col("bg._2").as("w2"))

  /** Bigram counts over the reference corpus, capped to the `maxBigrams`
    * most frequent (ties broken by bigram lexicographic order — a
    * deterministic total order, so the retained model is identical across
    * runs, partitionings, and engines). The cap is the explicit broadcast
    * bound: 250k rows ≈ a few MB. */
  def bigramCounts(ref: DataFrame, textCol: Column,
      maxBigrams: Int = 250000): DataFrame =
    capBigrams(bigramCountsRaw(ref, textCol), maxBigrams)

  /** UNCAPPED bigram counts — the mergeable partial behind
    * [[bigramCounts]]: counts are associative BIGINTs, so per-batch raw
    * tables re-summed per (w1, w2) equal the one-shot raw table exactly,
    * and because [[capBigrams]] is a deterministic function of the
    * merged counts, a cap-AFTER-merge model is bit-identical to the
    * batch-trained model under any corpus slicing (the streaming-LM
    * maintenance contract; the at-rest table is vocabulary², so compact
    * it by dropping singleton tails if it outgrows its store). */
  def bigramCountsRaw(ref: DataFrame, textCol: Column): DataFrame =
    transitions(ref, lit(0L), textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** Merge [[bigramCountsRaw]] tables: per-(w1, w2) BIGINT re-sum. */
  def mergeBigramCounts(partials: Seq[DataFrame]): DataFrame =
    partials.reduce(_.unionByName(_))
      .groupBy("w1", "w2").agg(sum(col("c2")).as("c2"))

  /** The deterministic retention cap ([[bigramCounts]]' second half). */
  def capBigrams(counts: DataFrame, maxBigrams: Int = 250000): DataFrame =
    counts.orderBy(col("c2").desc, col("w1").asc, col("w2").asc)
      .limit(maxBigrams)

  /** First-token totals WITHIN the retained bigram table (the
    * denominators are self-consistent with the capped model, not the
    * uncapped corpus — documented CCNet-style approximation). */
  def prevCounts(bigrams: DataFrame): DataFrame =
    bigrams.groupBy("w1").agg(sum("c2").as("c1"))

  /** Per-document transition counters against a reference LM:
    * `n_trans` adjacent token pairs, `n_known` of them present in the
    * retained model, `n_likely` with conditional frequency
    * c(w1,w2)/c(w1,·) ≥ likelyNum/likelyDen (integer cross-multiply — no
    * float compare), and `known_frac` = n_known/n_trans (ONE division of
    * exact ints). Documents with <2 tokens emit no row. The model and its
    * denominators are broadcast; the corpus never shuffles text — only
    * (id, counters) reach the aggregation. */
  def transitionStats(docs: DataFrame, idCol: Column, textCol: Column,
      ref: DataFrame, refTextCol: Column,
      likelyNum: Int = 1, likelyDen: Int = 100,
      maxBigrams: Int = 250000): DataFrame = {
    // lazy localCheckpoint (the frequentItems pattern): lm feeds BOTH
    // broadcasts (model + prevCounts denominators) — without it the
    // whole ref pipeline (scan → bigrams → agg → top-maxBigrams) is
    // planned and executed twice (r16; plan showed the duplicated
    // subtree under each BroadcastExchange)
    val lm = bigramCounts(ref, refTextCol, maxBigrams)
      .localCheckpoint(eager = false)
    val pc = prevCounts(lm)
    transitions(docs, idCol, textCol)
      .join(broadcast(lm), Seq("w1", "w2"), "left")
      .join(broadcast(pc), Seq("w1"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_trans"),
        sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(when(col("c2").isNotNull &&
            col("c2") * likelyDen >= col("c1") * likelyNum, 1L)
          .otherwise(0L)).as("n_likely"))
      .withColumn("known_frac",
        col("n_known").cast("double") / col("n_trans"))
  }

  /** ENGINE-PORTABLE per-document LM scoring — the oracle-checkable face
    * of [[perplexity]] (the [[graft.operators.TimeSeries.ewma]] contract):
    * the same add-α smoothed bigram negative log-probs, but summed by a
    * FIXED-ORDER in-row fold over the document's transitions in token
    * order instead of a plan-ordered float `avg`, so the mean NLL — and
    * `exp` of it, the perplexity — is bit-reproducible across engines,
    * partitionings and reruns (each −ln P is a fixed scalar expression
    * of exact BIGINT model counts; only the SUM ORDER ever differed).
    * ln/exp are correctly rounded on neither engine, so REGISTERED faces
    * compare rounded (the jsDivergence convention). Lower = more
    * reference-like — the CCNet keep/bucket signal.
    *
    * Scale: model + denominators broadcast; only (id, pos, two counts)
    * reach the one aggregation — the corpus text never shuffles, and the
    * per-doc collected list is bounded by the document's own token count.
    * Output: (id, n_trans, nll, ppl); docs with <2 tokens emit no row. */
  def logProbStats(docs: DataFrame, idCol: Column, textCol: Column,
      ref: DataFrame, refTextCol: Column, alpha: Double = 0.5,
      maxBigrams: Int = 250000): DataFrame = {
    // lazy localCheckpoint: lm feeds the model broadcast, prevCounts,
    // AND the eager vocabulary count below — three derivations of the
    // ref pipeline without it (see transitionStats)
    val lm = bigramCounts(ref, refTextCol, maxBigrams)
      .localCheckpoint(eager = false)
    val pc = prevCounts(lm)
    val v = lm.select(countDistinct(col("w2")).as("v")).head().getLong(0) + 1
    val p = (coalesce(col("c2"), lit(0L)).cast("double") + lit(alpha)) /
      (coalesce(col("c1"), lit(0L)).cast("double") + lit(alpha * v))
    tokenized(docs, idCol, textCol)
      .select(col("id"),
        posexplode(bigramStructsUdf(col("toks"))).as(Seq("pos", "bg")))
      .select(col("id"), col("pos"),
        col("bg._1").as("w1"), col("bg._2").as("w2"))
      .join(broadcast(lm), Seq("w1", "w2"), "left")
      .join(broadcast(pc), Seq("w1"), "left")
      .select(col("id"), col("pos"), (-log(p)).as("__nll"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("pos"), col("__nll"))))
        .as("__s"))
      .withColumn("n_trans", size(col("__s")).cast("bigint"))
      // 0.0 + x₁ = x₁ exactly in IEEE, so this zero-seeded fold equals
      // the oracle's first-element-seeded list_reduce bit-for-bit
      .withColumn("nll",
        aggregate(col("__s"), lit(0.0),
          (acc, x) => acc + x.getField("__nll")) /
          col("n_trans").cast("double"))
      .withColumn("ppl", exp(col("nll")))
      .select("id", "n_trans", "nll", "ppl")
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): within
    * each language, rank documents by LM score ([[logProbStats]]' mean
    * NLL — lower = more reference-like) and cut into `nBuckets` equal
    * tiles; CCNet trains on "head", treats "tail" as suspect. The split
    * is RANK arithmetic (ntile over (nll, id) — id breaks ties
    * deterministically), so although nll is transcendental the bucket
    * assignment is engine-portable as long as the nll ORDER matches,
    * which the bit-exact fixed-order fold guarantees.
    *
    * Scale shape: [[logProbStats]]' broadcast scoring plus one window
    * per language partition — the per-language ntile is the same
    * sort-once shape CCNet runs at CommonCrawl scale. Docs with no
    * scorable transition (< 2 tokens) are absent, as in [[logProbStats]].
    *
    * Output: (id, lang, n_trans, bucket_i, bucket), bucket ∈
    * head/middle/tail (bucket_i = 1 / interior / nBuckets). */
  def ccnetBuckets(docs: DataFrame, idCol: Column, textCol: Column,
      langCol: Column, ref: DataFrame, refTextCol: Column,
      alpha: Double = 0.5, maxBigrams: Int = 250000,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"ccnetBuckets needs nBuckets >= 2, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val scored =
      logProbStats(docs, idCol, textCol, ref, refTextCol, alpha, maxBigrams)
    scored.join(docs.select(idCol.as("id"), langCol.as("lang")), "id")
      .withColumn("bucket_i", ntile(nBuckets).over(
        Window.partitionBy("lang").orderBy(col("nll"), col("id"))))
      .withColumn("bucket",
        when(col("bucket_i") === 1, "head")
          .when(col("bucket_i") === nBuckets, "tail")
          .otherwise("middle"))
      .select("id", "lang", "n_trans", "bucket_i", "bucket")
  }

  /** Classic add-α smoothed bigram perplexity per document:
    * exp(mean(-ln P(w2|w1))) with P = (c2+α)/(c1+α·V), V = retained
    * distinct-successor vocabulary + 1 (the unseen event). Unknown
    * transitions back off to c2=0 (and c1=0 for unseen first tokens).
    * Lower = more reference-like; the CCNet keep/bucket signal.
    * Transcendental — see the object doc for why the oracle checks
    * [[transitionStats]] instead. */
  def perplexity(docs: DataFrame, idCol: Column, textCol: Column,
      ref: DataFrame, refTextCol: Column, alpha: Double = 0.5,
      maxBigrams: Int = 250000): DataFrame = {
    val lm = bigramCounts(ref, refTextCol, maxBigrams)
    val pc = prevCounts(lm)
    // V: bounded driver scalar (one long) — the vocabulary of retained
    // successors plus one unseen event
    val v = lm.select(countDistinct(col("w2")).as("v")).head().getLong(0) + 1
    val p = (coalesce(col("c2"), lit(0L)) + alpha) /
      (coalesce(col("c1"), lit(0L)) + alpha * v)
    transitions(docs, idCol, textCol)
      .join(broadcast(lm), Seq("w1", "w2"), "left")
      .join(broadcast(pc), Seq("w1"), "left")
      .groupBy("id")
      .agg(exp(avg(-log(p))).as("perplexity"))
  }
}
