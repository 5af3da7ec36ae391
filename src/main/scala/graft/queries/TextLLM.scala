package graft.queries

import graft.Tables
import graft.operators.{Bpe, Curation, Dedup, Multimodal, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data-pipeline query registry: text analysis, dedup,
  * similarity search, multimodal plumbing — over `documents` /
  * `embeddings` (TESTDATA.md).
  *
  * Oracle parity notes: DuckDB's SUM/MAX over integers widen to HUGEINT →
  * oracle SQL casts back to BIGINT; Spark int-sized `size()` results are
  * cast up to BIGINT on the Spark side. Ratio outputs are single IEEE
  * divisions of exact ints. The hash near-dup pipelines register under
  * engine-portable md5 hash families (round 5), so minhash, simhash,
  * dedup corpus, winnowing, and the multimodal stub are ALL checked end
  * to end by the DuckDB oracle. Round 6 closes the last gap: the
  * registered LSH query uses md5-derived hyperplanes and the registered
  * IVF query fixes centroids to the k lowest-id vectors, so both have
  * full SQL mirrors — every registered query is oracle-checked. Recall
  * floors vs brute-force truth stay in LlmOperatorsSpec.
  */
object TextLLM {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Documents plus a perturbed near-duplicate of each (id+1e6, one token
    * appended) — the standard recall fixture for near-dup queries, built
    * inline so the query is self-contained at any SF. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" appended")).as("text")))
  }

  // ------------------------------------------------------------ oracle'd

  def tTokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_tokens", TA.tokenCount(col("text")).cast("bigint"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang")

  /** Fixed rank-consistent merge table for the oracle'd BPE query —
    * common English pairs, every merge's parts single chars or products
    * of earlier merges, so the replace-chain encoding is exact BPE
    * (Bpe.applyMergesColumn doc). The LEARNED-table path
    * (Bpe.trainBpe/tokenizeBpe) has no SQL mirror; LlmOperatorsSpec
    * cross-checks it against this column path on a trained table. */
  private val BpeFixedMerges = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "e" -> "r", "o" -> "n", "an" -> "d", "o" -> "r")

  def tBpeEncode(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select("doc_id", "text")
      // SORT FIRST, encode after (r16, guide §1.4/§2.4): a global sort's
      // range exchange runs a SAMPLING job over its child to compute
      // partition bounds, so everything below the exchange executes
      // twice — with the encode below the orderBy (the old shape) the
      // whole 10-pass replace chain ran 2× per row (plan: the expensive
      // Project sat under Exchange rangepartitioning). Sorting the bare
      // (doc_id, text) scan and projecting the encode ABOVE the Sort
      // runs the chain exactly once; Catalyst keeps Project above Sort,
      // and a projection preserves the sorted order the query declares.
      .orderBy("doc_id")
      // enc staged ONCE and referenced twice (count + md5). Measured
      // neutral at sf0.1 — replace() is codegen'd, so whole-stage
      // subexpression elimination already deduped the two identical
      // chains — but the explicit staging keeps the plan's cost honest
      // if a non-codegen expression ever joins this projection (CSE
      // does not reach interpreted expressions — the langid lesson)
      .withColumn("enc", Bpe.applyMergesColumn(
        regexp_replace(col("text"), "\\s+", " "), BpeFixedMerges))
      .select(col("doc_id"),
        Bpe.bpeTokenCountFromEncoded(col("enc")).as("n_bpe_tokens"),
        md5(col("enc").cast("binary")).as("enc_md5"))

  def tQualityStopwords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", TA.wsTokens(lower(col("text"))))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("n_stop", TA.vocabHits(col("toks"), TA.EnStop).cast("bigint"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_stop")).as("total_stop"))
      .withColumn("stop_ratio",
        col("total_stop").cast("double") / col("total_tokens"))
      .orderBy("source")

  def tLangidConfusion(s: SparkSession, dir: String): DataFrame =
    // scale form: tokens AND the four vote counts are materialized
    // attributes, so the tokenizer and each interpreted-HOF vote run
    // exactly once per row (the one-expression form re-scans the token
    // array per vote reference — measured 1.35× slower at sf0.1)
    TA.withLanguageGuess(docs(s, dir),
        TA.wsTokens(lower(col("text"))))
      .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")

  /** Per-class langid quality report ([[graft.operators.Stats
    * .classificationReport]]): precision/recall/F1 of the stopword-vote
    * guesser against the labeled lang, per source — the labeling-QA
    * face built on the t_langid_confusion machinery; every metric a
    * single division of exact counts. */
  def aLangidReport(s: SparkSession, dir: String): DataFrame = {
    val d = TA.withLanguageGuess(docs(s, dir),
      TA.wsTokens(lower(col("text"))))
    graft.operators.Stats.classificationReport(d, Seq(col("source")),
        col("lang"), col("guess"))
      .orderBy("source", "class")
  }

  /** Cohen's κ of the langid guesser vs labels per source
    * ([[graft.operators.Stats.cohenKappa]]) — chance-corrected
    * agreement as ONE division of exact BIGINTs
    * ((a·N − p)/(N² − p)). */
  def aLangidKappa(s: SparkSession, dir: String): DataFrame = {
    val d = TA.withLanguageGuess(docs(s, dir),
      TA.wsTokens(lower(col("text"))))
    graft.operators.Stats.cohenKappa(d, Seq(col("source")),
        col("lang"), col("guess"))
      .orderBy("source")
  }

  /** MCC of "is it English?" per source ([[graft.operators.Stats
    * .mccBinary]]): the imbalance-honest binary summary of the langid
    * guesser — exact 2×2 cells, one √, one division. */
  def aLangidMcc(s: SparkSession, dir: String): DataFrame = {
    val d = TA.withLanguageGuess(docs(s, dir),
      TA.wsTokens(lower(col("text"))))
    graft.operators.Stats.mccBinary(d, Seq(col("source")),
        col("lang") === "en", col("guess") === "en")
      .orderBy("source")
  }

  /** BM25 keyword search, the oracle face: ratio idf (no `ln`), exactly
    * representable k1=1.5 / b=0.75, two-term queries (2-addend IEEE sums
    * are order-independent) — every score replays bit-for-bit in DuckDB.
    * The published log-idf form is differential-tested in SearchSpec. */
  def tBm25Top5(s: SparkSession, dir: String): DataFrame =
    graft.operators.Search.bm25TopK(docs(s, dir), col("doc_id"), col("text"),
      queries = Seq(1L -> Seq("vector", "join"), 2L -> Seq("stream", "filter"),
        3L -> Seq("customer", "spark")),
      k = 5, k1 = 1.5, b = 0.75, logIdf = false)

  /** "More like this": whole documents as queries, ranked by sparse
    * TF-IDF cosine. Ratio idf (`tf × N/df_t`) + sorted-term-order sums
    * make every float replayable, so the oracle matches cos bit for
    * bit — see [[graft.operators.Search.tfIdfCosineTopK]]. */
  def tTfidfCosineTop3(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir).filter(col("doc_id") < 200)
    val queryIds = corpus.filter(col("doc_id") < 5)
      .select(col("doc_id").as("id"))
    graft.operators.Search.tfIdfCosineTopK(corpus, col("doc_id"),
        col("text"), queryIds, k = 3, logIdf = false)
      .orderBy("qid", "rank")
  }

  /** Hybrid retrieval: sparse TF-IDF cosine + dense embedding cosine
    * over the same 200-doc universe (doc_id == vec_id in the testdata),
    * fused by reciprocal rank ([[graft.operators.Search.rrfFuse]],
    * kConst = 60, top-10 in, top-5 out). Rank arithmetic only, so
    * although neither input's cosine SCALE is engine-portable, the
    * fused score is: each 1/(60+rank) term is a single IEEE division
    * of exact ints and a two-addend sum is order-independent — the
    * oracle replays both ranked lists (the t_tfidf_cosine_top3 and
    * s_ann_brute_top5 mirrors at k=10 over the shared universe) and
    * the fusion, and `rrf` hashes exactly. */
  def tRrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir).filter(col("doc_id") < 200)
    val queryIds = corpus.filter(col("doc_id") < 5)
      .select(col("doc_id").as("id"))
    val sparse = graft.operators.Search.tfIdfCosineTopK(corpus,
        col("doc_id"), col("text"), queryIds, k = 10, logIdf = false)
      .select("qid", "rank", "doc_id")
    val base = emb(s, dir).filter(col("vec_id") < 200)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val dense = Similarity.bruteForceTopK(base, queries, 10)
      .select(col("qid"), col("rank"), col("nid").as("doc_id"))
    graft.operators.Search.rrfFuse(Seq(sparse, dense), k = 5)
      .orderBy("qid", "rank")
  }

  /** Count-Min frequency estimates for the corpus's true top-10 tokens,
    * next to their exact counts: every estimate must be ≥ exact (CMS
    * error is one-sided) and both engines replay the d×w counter build
    * under the portable md5 family — the full sketch, not a summary, is
    * effectively verified because every probe walks d counters. */
  def tCmsTokenCounts(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(
      explode(TA.wsTokens(lower(col("text")))).as("k"))
    val exact = toks.groupBy("k").agg(count(lit(1)).as("n_exact"))
    val top = exact.orderBy(col("n_exact").desc, col("k")).limit(10)
    val sketch = graft.operators.Sketches.countMinSketch(toks, col("k"),
      depth = 4, width = 512)
    sketch.estimate(top, col("k"))
      .join(top, Seq("k"))
      .select(col("k").as("token"), col("n_exact"), col("est").as("n_est"))
      .orderBy("token")
  }

  /** EXACT token-bigram heavy hitters at share ≥ 0.15% via
    * [[graft.operators.Sketches.frequentItems]] — zero-shuffle
    * Misra-Gries candidate pass + one exact verify count restricted to
    * the broadcast candidates. The oracle is the PLAIN GROUP-BY/HAVING:
    * a hash match certifies the candidate pass produced zero false
    * negatives end to end (same certification style as
    * d_containment_pairs). `share` = single IEEE division of exact
    * longs. */
  def tHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Bigram stream as a narrow JVM mapPartitions (r16, guide §4):
    // frequentItems is two-pass by design (MG candidates, then the exact
    // verify count), so this subtree executes twice — and the HOF form
    // (filter-lambda tokens, zip_with/slice bigrams) is INTERPRETED
    // Catalyst eval per element, measured 3.0× slower than the JVM loop
    // at sf0.1 (0.514 s vs 0.169 s per pass, identical multiset).
    // Equivalence: wsTokens = split(trim, \s+) minus empties (trim only
    // affects empties, which the filter drops) and bigrams joins
    // adjacent tokens with one space — exactly toks(i)+" "+toks(i+1).
    val bg = docs(s, dir).select(lower(col("text")).as("t")).as[String]
      .mapPartitions { it =>
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
    graft.operators.Sketches.frequentItems(bg, col("k"), minShare = 0.0015)
      .select(col("key").as("bigram"), col("n"), col("share"))
      .orderBy("bigram")
  }

  /** Collocation mining: pointwise-mutual-information–style lift of
    * adjacent token pairs, `lift = p(xy) / (p(x)·p(y))` with
    * `p(xy) = n_xy/N_bigrams`, `p(x) = n_x/N_tokens`. Two exploded
    * aggregations (bigrams, unigrams) + two shuffle joins keyed on
    * token — the standard phrase-mining shape; every count is exact and
    * the lift is one division of products that stay below 2^53, so the
    * doubles are bit-portable to the DuckDB oracle. */
  def tPmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(
      TA.wsTokens(lower(col("text"))).as("toks"))
    val uni = toks.select(explode(col("toks")).as("x"))
      .groupBy("x").agg(count(lit(1)).as("n_x"))
    val bg = toks.select(explode(TA.bigrams(col("toks"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
    val nUni = toks.select(explode(col("toks")).as("x"))
      .agg(count(lit(1)).as("n_uni"))
    val nBig = toks.select(explode(TA.bigrams(col("toks"))).as("b"))
      .agg(count(lit(1)).as("n_big"))
    bg.join(uni, Seq("x"))
      .join(uni.select(col("x").as("y"), col("n_x").as("n_y")), Seq("y"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
      .filter(col("n_xy") >= 5)
      .withColumn("lift",
        (col("n_xy").cast("double") * col("n_uni").cast("double") *
          col("n_uni").cast("double")) /
          (col("n_big").cast("double") * col("n_x").cast("double") *
            col("n_y").cast("double")))
      .select(col("bigram"), col("n_xy"), col("n_x"), col("n_y"), col("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(20)
  }

  /** URL canonicalization over five synthetic shapes per doc — mixed
    * case, default ports, tracking params, fragments, trailing slashes,
    * bare hosts — every rule of [[TA.canonicalUrl]] exercised and the
    * oracle replays each string step exactly. */
  def tUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("source"))
    val urls = base.select(col("doc_id"), explode(array(
      concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".COM:443/Path/A?utm_campaign=x&z=1&a=2#sec")),
      concat(lit("http://"), col("source"), lit(".com:80/a/")),
      concat(lit("http://"), col("source"), lit(".com/?fbclid=abc&ref=tw")),
      concat(lit("https://"), col("source"), lit(".com/path?b=2&a=1&gclid=g")),
      concat(lit("http://"), col("source"), lit(".com")))).as("url"))
    urls.select(col("doc_id"), col("url"),
        TA.canonicalUrl(col("url")).as("canon"))
      .orderBy("doc_id", "url")
  }

  def tFingerprintMd5(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(TA.normalized(col("text")).cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
      .orderBy("fp").limit(50)

  def dTokenJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // all-pairs verification tail: the id subset keeps it tiny, and the
    // guard fails fast if this query is ever pointed at an unbounded corpus
    val sets = graft.operators.Similarity.requireBounded(
      docs(s, dir).filter(col("doc_id") < 60), maxRows = 1000, "d_token_jaccard_pairs")
      .select(col("doc_id"),
        array_distinct(TA.wsTokens(TA.normalized(col("text")))).as("toks"))
    val a = sets.select(col("doc_id").as("id_a"), col("toks").as("ta"))
    val b = sets.select(col("doc_id").as("id_b"), col("toks").as("tb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", Dedup.jaccard(col("ta"), col("tb")))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Near-dup CLUSTERS: the token-Jaccard pair graph closed transitively
    * ([[Dedup.connectedComponents]] alternating-star contraction), every
    * doc mapped to the min doc_id of its duplicate class — the step the
    * pairwise queries stop short of, and what USEARCH clustering hands the
    * reference (`/root/reference/Time_Series.py:471–478`). Unlike
    * d_dedup_corpus (minhash pairs, survivors only) this oracle checks the
    * FULL assignment including singleton docs as their own cluster. */
  def dDupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = dTokenJaccardPairs(s, dir).select("id_a", "id_b")
    val nodes = docs(s, dir).filter(col("doc_id") < 60)
    Dedup.assignComponentsOrSelf(nodes, col("doc_id"), pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id")
  }

  /** Quality-aware survivor selection over the same duplicate clusters:
    * keep the LONGEST member (n_chars desc, doc_id tie-break) instead of
    * min-id — the production rule. The oracle recomputes clusters via
    * its independent recursive-CTE walk and arg-maxes per cluster. */
  def dClusterBest(s: SparkSession, dir: String): DataFrame = {
    val assigned = dDupClusters(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("doc_id").as("id"), col("cluster").as("label"),
        col("n_chars"))
    Dedup.bestPerCluster(assigned, col("n_chars"))
      .select(col("label").as("cluster"), col("id").as("best_doc"),
        col("n_chars"))
      .orderBy("cluster")
  }

  /** Incremental dedup, one snapshot step oracle'd END TO END on the
    * portable Md5Minhash family: docs < 30 are the retained corpus
    * (participating only as [[Dedup.corpusState]] — hashes + signatures,
    * no text), the batch is docs 30–59 plus injected exact/near dups of
    * both the state and the batch, exercising all four drop paths
    * (in-batch exact, vs-state exact, in-batch near with transitive
    * closure, vs-state near via signature-estimated Jaccard). */
  def dIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val state0 = d.filter(col("doc_id") < 30)
    val fresh = d.filter(col("doc_id") >= 30 && col("doc_id") < 60)
    val batch = fresh
      .unionByName(state0.filter(col("doc_id") < 10).select(
        (col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
      .unionByName(state0.filter(col("doc_id") < 5).select(
        (col("doc_id") + 3000).as("doc_id"), col("text")))
      .unionByName(fresh.filter(col("doc_id") < 40).select(
        (col("doc_id") + 4000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text")))
      .unionByName(fresh.filter(col("doc_id") < 35).select(
        (col("doc_id") + 5000).as("doc_id"), col("text")))
    val st = Dedup.corpusState(state0, col("doc_id"), col("text"),
      family = Dedup.Md5Minhash)
    Dedup.incrementalDedup(batch, col("doc_id"), col("text"), st,
        minJaccard = 0.5, family = Dedup.Md5Minhash)
      .kept.select(col("id").as("doc_id")).orderBy("doc_id")
  }

  /** State compaction end to end: a dedup state bootstrapped from a RAW
    * corpus (verbatim copy families injected) is compacted to one row per
    * distinct signature — the surviving ids are the min id of each
    * signature family, independently replayed by the oracle's signature
    * CTE. Md5Minhash so every hash has a DuckDB mirror. */
  def dStateCompaction(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val raw = d
      .unionByName(d.filter(col("doc_id") < 40).select(
        (col("doc_id") + 1000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") < 15).select(
        (col("doc_id") + 2000).as("doc_id"), col("text")))
    val st = Dedup.corpusState(raw, col("doc_id"), col("text"),
      family = Dedup.Md5Minhash)
    Dedup.compactState(st)
      .select(col("id").as("doc_id")).orderBy("doc_id")
  }

  /** The deduplicated corpus: one survivor (min doc_id) per duplicate
    * cluster with the number of docs it absorbed. */
  def dClusterSurvivors(s: SparkSession, dir: String): DataFrame =
    dDupClusters(s, dir)
      .groupBy(col("cluster").as("doc_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("doc_id")

  def mBinaryMeta(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("bigint"))
      .withColumn("sha", sha2(col("payload"), 256))
      .groupBy("source")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("sha")).as("distinct_sha"),
        max(col("n_bytes")).as("max_bytes"))
      .orderBy("source")

  /** WARC container round-trip at corpus scale: documents serialized as
    * WARC records through the DSv2 write path, scanned back with a small
    * split size (so split-boundary ownership is exercised on real data),
    * and aggregated. The oracle sees only the original table — the query
    * matches iff serialization/scan is lossless, byte-for-byte, and
    * exactly-once under arbitrary splits. */
  def mWarcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_warc_roundtrip_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    docs(s, dir).select(
      lit("resource").as("record_type"),
      concat(lit("<urn:doc:"), col("doc_id"), lit(">")).as("record_id"),
      col("lang").as("content_type"),
      map(lit("X-Graft-Source"), col("source")).as("headers"),
      encode(col("text"), "UTF-8").as("payload"))
      .write.format("warc").mode("overwrite").save(out)
    s.read.format("warc").option("maxSplitBytes", "65536").load(out)
      .select(col("content_type").as("lang"),
        element_at(col("headers"), "X-Graft-Source").as("source"),
        col("content_length"),
        length(decode(col("payload"), "UTF-8")).cast("bigint").as("n_chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("content_length")).as("sum_bytes"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "source")
  }

  def sAnnBruteTop5(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(base, queries, 5)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  /** MMR diversified top-5 ([[Similarity.mmrRerank]]) over brute-force
    * top-50 candidates: λ = 0.7 relevance vs diversity. Output
    * (qid, rank, nid) only — selection order is the payload; every
    * cosine is the explicit dot/(n·n) with precomputed norms so the
    * mirror forms the identical floats. */
  def sMmrTop5(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val topn = Similarity.bruteForceTopK(base, queries, 50)
    val cands = topn.join(base.select(col("vec_id").as("nid"),
        col("embedding").as("vec")), Seq("nid"))
      .select("qid", "nid", "cos", "vec")
    Similarity.mmrRerank(cands, k = 5, lambda = 0.7)
      .orderBy("qid", "rank")
  }

  /** Hard-negative mining ([[Similarity.hardNegatives]]): per query, the
    * 3 most similar vectors with a DIFFERENT label — the contrastive-
    * training pair miner. Output (qid, rank, nid) only, like the other
    * ANN oracles: ranks are label-aware and tie-broken by nid. */
  def sHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    Similarity.hardNegatives(base, queries, 3)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  // -------------------------- hash pipelines (oracle'd via md5 families)

  def dMinhashNearDups(s: SparkSession, dir: String): DataFrame =
    // Md5Minhash family (round 5): every stage — seeded shingle minima,
    // band buckets, the mega-bucket cap, exact-Jaccard verification — has
    // a DuckDB mirror, so the driver's oracle checks the WHOLE pipeline.
    // The xxhash64 family stays the operator default (8-byte shuffle keys)
    // and is covered by LlmOperatorsSpec + `Probe scale`.
    Dedup.minhashNearDups(docsWithNearDups(s, dir), col("doc_id"), col("text"),
        shingleK = 3, numHashes = 24, bands = 8, minJaccard = 0.5,
        family = Dedup.Md5Minhash)
      .orderBy("id_a", "id_b")

  def dSimhashNearDups(s: SparkSession, dir: String): DataFrame = {
    // md5Hash60 token hashes (round 5): 60-bit simhash, 4×15-bit bands —
    // the whole pipeline (bit sums, banding, bucket cap, Hamming verify)
    // has a DuckDB mirror, so the oracle checks it end to end. xxhash64 /
    // 64-bit stays the operator default (LlmOperatorsSpec + `Probe scale`).
    // lazy localCheckpoint (r16): sigs feeds the banded candidates AND
    // both verify joins — three plannings of the scan→tokenize→md5→
    // 60-conditional-sum pipeline without the cut; the checkpoint
    // materializes n_docs (id, long) rows once (profiled 3.07 s → the
    // signature pass once instead of three times)
    val sigs = Dedup.simhashSignatures(
      docsWithNearDups(s, dir), col("doc_id"), col("text"),
      tokenHash = Dedup.md5Hash60, nBits = Dedup.Md5SimhashBits)
      .localCheckpoint(eager = false)
    Dedup.simhashCandidatesFromSigs(sigs, totalBits = Dedup.Md5SimhashBits)
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("sh_b")), "id_b")
      .withColumn("hamming", Dedup.hamming64(col("sh_a"), col("sh_b")).cast("int"))
      .filter(col("hamming") <= 8)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  def sAnnLshTop3(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // bits sized to the corpus (~2^bits ≈ N/30 keeps ~30 vectors per
    // bucket) + depth-2 multi-probe; recall is regression-asserted ≥0.6
    // against brute-force truth in LlmOperatorsSpec. At 100 TB the same
    // two dials scale the index: more bits for smaller buckets, deeper
    // probes to buy recall back. Registered with md5-derived planes
    // (round 6) so the oracle recomputes signature → probes → scores end
    // to end; `cos` is dropped from the OUTPUT like the brute query
    // (rank order agrees across engines; last-bit float repr may not).
    // Seeded-random planes remain the library default (lshTopK).
    Similarity.lshTopKWithPlanes(base, queries, k = 3,
        planes = Similarity.md5Planes(numBits = 4, dim = 64), probeDepth = 2)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  /** Per-cluster scatter of the deterministic IVF layout (k = 8 seed
    * centroids, the s_ann_ivf_top3 convention): exact quantized
    * distance sums, fixed-fold mean — every column hashes unrounded. */
  def sClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    Similarity.clusterQuality(Similarity.ivfIndex(base, centroids),
        centroids)
      .orderBy("ivf_list")
  }

  /** Davies–Bouldin index of the same layout — scatter vs centroid
    * separation, the one-number layout comparator. The oracle replays
    * the driver's fixed index-order d_ij fold in SQL. */
  def sDaviesBouldin(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    Similarity.daviesBouldin(
      Similarity.clusterQuality(Similarity.ivfIndex(base, centroids),
        centroids), centroids)
  }

  /** Deterministic labeled record-linkage pairs over `documents`: true
    * pairs are (doc, its perturbed twin — same lang/source, n_chars+9,
    * text + token); false pairs are (doc, the NEXT doc's twin). Both
    * engines construct the identical frame. */
  private def linkagePairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))
    val twin = d.select((col("doc_id") + 1000000L).as("b_id"),
      concat(col("text"), lit(" appended")).as("b_text"),
      col("lang").as("b_lang"), col("source").as("b_source"),
      (col("n_chars") + 9L).as("b_n_chars"))
    val matches = d.join(twin, col("b_id") === col("doc_id") + 1000000L)
      .withColumn("is_match", lit(true))
    val nonMatches = d.join(twin,
        col("b_id") === col("doc_id") + 1000001L)
      .withColumn("is_match", lit(false))
    matches.unionByName(nonMatches)
      .select(col("doc_id").as("id_a"), col("b_id").as("id_b"),
        col("is_match"),
        (col("lang") === col("b_lang")).as("f_lang"),
        (abs(col("n_chars") - col("b_n_chars")) <= 20L).as("f_len"),
        (substring(col("text"), 1, 24) === substring(col("b_text"), 1, 24))
          .as("f_prefix"),
        (col("source") === col("b_source")).as("f_source"))
  }

  private val linkageFields = Seq(
    "lang" -> col("f_lang"), "len" -> col("f_len"),
    "prefix" -> col("f_prefix"), "source" -> col("f_source"))

  /** SQL mirror of [[linkagePairs]] as a CTE body. */
  private val linkagePairsCte =
    """d AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
      |tw AS (SELECT doc_id + 1000000 AS b_id,
      |    text || ' appended' AS b_text, lang AS b_lang,
      |    source AS b_source, n_chars + 9 AS b_n_chars FROM d),
      |pairs AS (
      |  SELECT d.doc_id AS id_a, tw.b_id AS id_b, TRUE AS is_match,
      |    d.lang = tw.b_lang AS f_lang,
      |    abs(d.n_chars - tw.b_n_chars) <= 20 AS f_len,
      |    substr(d.text, 1, 24) = substr(tw.b_text, 1, 24) AS f_prefix,
      |    d.source = tw.b_source AS f_source
      |  FROM d JOIN tw ON tw.b_id = d.doc_id + 1000000
      |  UNION ALL
      |  SELECT d.doc_id, tw.b_id, FALSE,
      |    d.lang = tw.b_lang,
      |    abs(d.n_chars - tw.b_n_chars) <= 20,
      |    substr(d.text, 1, 24) = substr(tw.b_text, 1, 24),
      |    d.source = tw.b_source
      |  FROM d JOIN tw ON tw.b_id = d.doc_id + 1000001)""".stripMargin

  /** Fellegi–Sunter m/u estimation over the labeled pair fixture
    * ([[graft.operators.Linkage.trainWeights]]): exact counts, exact
    * m/u ratios; the ln weights compare at 12 decimals. */
  def tLinkageWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage.trainWeights(linkagePairs(s, dir),
        col("is_match"), linkageFields)
      .withColumn("w_agree", round(col("w_agree"), 12))
      .withColumn("w_disagree", round(col("w_disagree"), 12))
      .orderBy("field")

  /** Fellegi–Sunter pair scoring with the trained weights
    * ([[graft.operators.Linkage.score]]): fixed field-order fold, top
    * 20 pairs; score at 12 decimals (the ln convention). */
  def tLinkageScore(s: SparkSession, dir: String): DataFrame = {
    val pairs = linkagePairs(s, dir)
    val w = graft.operators.Linkage.trainWeights(pairs, col("is_match"),
      linkageFields)
    graft.operators.Linkage.score(pairs,
        Seq(col("id_a"), col("id_b")), w, linkageFields)
      .withColumn("link_score", round(col("link_score"), 12))
      .orderBy(col("link_score").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** UNSUPERVISED Fellegi–Sunter via EM
    * ([[graft.operators.Linkage.emTrainWeights]]): the same pair
    * fixture with the label DROPPED — EM recovers the match/non-match
    * mixture from the agreement patterns alone. 3 fixed iterations,
    * BIGINT-quantized posteriors, so the oracle replays every E/M step
    * as chained CTEs and m/u/lambda hash bit-for-bit (ln weights 12dp). */
  def tLinkageEm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage.emTrainWeights(
        linkagePairs(s, dir).drop("is_match"), linkageFields, iters = 3)
      .withColumn("w_agree", round(col("w_agree"), 12))
      .withColumn("w_disagree", round(col("w_disagree"), 12))
      .orderBy("field")

  /** The agreement fields the EM mirrors score, alphabetical = the
    * sort_array fold order `score()` pins. */
  private val emFields = Seq("lang", "len", "prefix", "source")

  /** The fixed-3-iteration EM of [[graft.operators.Linkage
    * .emTrainWeights]] as chained CTEs over a `pairs` CTE carrying one
    * `f_<field>` agreement flag per [[emFields]] entry: `<p>0` holds the
    * init params; iteration k is (posterior `<e>k` → quantize `<q>k` →
    * sums `<a>k` → new params `<p>k`), so `<p>3` holds the fitted
    * m/u/lam. Every float op mirrors the Scala side exactly — left-assoc
    * factor products in field order, floor-quantized BIGINT sums,
    * single IEEE divisions of exact longs. The CTE name prefixes are
    * arguments so a query whose own CTEs already take some of them can
    * rename the chain. */
  private def emIterCtes(e: String, q: String, a: String, p: String)
      : String = {
    val one = "CAST(1 AS DOUBLE)"
    val qs = "CAST(1000000 AS DOUBLE)"
    val sQ = 1000000L // smoothing=1 × quantScale
    def prod(m: String) = emFields.map(n =>
      s"(CASE WHEN f_$n IS NULL THEN $one WHEN f_$n THEN ${m}_$n " +
        s"ELSE $one - ${m}_$n END)").mkString(" * ")
    val init = s"${p}0 AS (SELECT " +
      (emFields.map(n => s"CAST(0.9 AS DOUBLE) AS m_$n") ++
        emFields.map(n => s"CAST(0.1 AS DOUBLE) AS u_$n") ++
        Seq("CAST(0.5 AS DOUBLE) AS lam")).mkString(", ") + ")"
    val fcols = emFields.map(n => s"f_$n").mkString(", ")
    def iter(k: Int): String =
      s"""$e$k AS (SELECT $fcols,
         |    (lam * ${prod("m")})
         |    / (lam * ${prod("m")} + ($one - lam) * ${prod("u")}) AS g
         |  FROM pairs CROSS JOIN $p${k - 1}),
         |$q$k AS (SELECT $fcols,
         |    CAST(floor(g * $qs) AS BIGINT) AS qg,
         |    CAST(floor(($one - g) * $qs) AS BIGINT) AS qu FROM $e$k),
         |$a$k AS (SELECT ${emFields.map(n =>
             s"SUM(CASE WHEN f_$n THEN qg ELSE 0 END) AS gm_$n, " +
             s"SUM(CASE WHEN f_$n IS NOT NULL THEN qg ELSE 0 END) AS gt_$n, " +
             s"SUM(CASE WHEN f_$n THEN qu ELSE 0 END) AS um_$n, " +
             s"SUM(CASE WHEN f_$n IS NOT NULL THEN qu ELSE 0 END) AS ut_$n")
           .mkString(", ")},
         |    SUM(qg) AS g_all, COUNT(*) AS n FROM $q$k),
         |$p$k AS (SELECT ${emFields.map(n =>
             s"CAST(gm_$n + $sQ AS DOUBLE) / CAST(gt_$n + ${2 * sQ} AS DOUBLE) AS m_$n, " +
             s"CAST(um_$n + $sQ AS DOUBLE) / CAST(ut_$n + ${2 * sQ} AS DOUBLE) AS u_$n")
           .mkString(", ")},
         |    CAST(g_all + $sQ AS DOUBLE)
         |    / CAST(n * 1000000 + ${2 * sQ} AS DOUBLE) AS lam FROM $a$k)""".stripMargin
    (init +: (1 to 3).map(iter)).mkString(",\n")
  }

  /** SQL mirror of the fixed-3-iteration EM: [[emIterCtes]] as
    * p0 → (e_k, q_k, a_k, p_k); the final SELECT unpivots p3 into
    * per-field rows. */
  private val linkageEmOracle: String = {
    val one = "CAST(1 AS DOUBLE)"
    val unpivot = emFields.map(n =>
      s"SELECT '$n' AS field, m_$n AS m, u_$n AS u, lam FROM p3")
      .mkString("\n  UNION ALL ")
    s"""WITH $linkagePairsCte,
       |${emIterCtes("e", "q", "a", "p")}
       |SELECT field, m, u, ROUND(ln(m / u), 12) AS w_agree,
       |  ROUND(ln(($one - m) / ($one - u)), 12) AS w_disagree,
       |  lam AS lambda
       |FROM ($unpivot)
       |ORDER BY field""".stripMargin
  }

  /** Composed UNSUPERVISED entity resolution end-to-end ([[graft
    * .operators.Linkage.resolveEntities]]): the planted-twin corpus
    * (doc ∪ doc+1000000 with ' appended') resolved by minhash-LSH
    * candidates (portable md5 family) → 3-step EM on the unlabeled
    * candidate pairs → Fellegi–Sunter scoring → threshold 0 →
    * connected components. Output is pure integers (id, entity_id =
    * min linked id), so the hash is exact; ln enters only the
    * threshold comparison, where a 1-ulp engine divergence would need
    * a pair scored within ~1e-15 of 0 to matter. */
  def tEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val recs = base.unionByName(base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" appended")).as("text"),
      col("lang"), col("source"),
      (col("n_chars") + 9L).as("n_chars")))
    graft.operators.Linkage.resolveEntities(recs, col("doc_id"),
        col("text"),
        attrs = Seq("lang" -> col("lang"), "len" -> col("n_chars"),
          "prefix" -> substring(col("text"), 1, 24),
          "source" -> col("source")),
        fields = Seq(
          "lang" -> (col("a_lang") === col("b_lang")),
          "len" -> (abs(col("a_len") - col("b_len")) <= 20L),
          "prefix" -> (col("a_prefix") === col("b_prefix")),
          "source" -> (col("a_source") === col("b_source"))),
        threshold = 0.0,
        family = graft.operators.Dedup.Md5Minhash)
      .orderBy("id")
  }

  /** SQL mirror of the COMPOSED resolution pipeline: the d_minhash
    * candidate CTEs over the twin corpus, pair agreements, the
    * 3-iteration EM replay ([[emIterCtes]] renamed to
    * wK/eeK/qqK/aaK — p, p2 and m are taken by the minhash CTEs), the
    * fixed-field-order score sum, and the min-label component walk.
    * Output is integer-only; see [[tEntityResolution]] for the one
    * ln-ulp caveat. */
  private val entityResolutionOracle: String = {
    val one = "CAST(1 AS DOUBLE)"
    val contrib = emFields.map(n =>
      s"CASE WHEN f_$n IS NULL THEN CAST(0 AS DOUBLE) " +
        s"WHEN f_$n THEN ln(m_$n / u_$n) " +
        s"ELSE ln(($one - m_$n) / ($one - u_$n)) END")
      .mkString("CAST(0 AS DOUBLE)\n    + ", "\n    + ", "")
    s"""WITH RECURSIVE base AS (SELECT doc_id, text, lang, source, n_chars
       |  FROM documents WHERE doc_id < 300),
       |d AS (SELECT doc_id, text, lang, source, n_chars FROM base
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' appended', lang, source,
       |    n_chars + 9 FROM base),
       |${minhashSqlCtes("d")},
       |pairs AS (SELECT cand.id_a, cand.id_b,
       |    da.lang = db.lang AS f_lang,
       |    abs(da.n_chars - db.n_chars) <= 20 AS f_len,
       |    substr(da.text, 1, 24) = substr(db.text, 1, 24) AS f_prefix,
       |    da.source = db.source AS f_source
       |  FROM cand JOIN d da ON da.doc_id = cand.id_a
       |    JOIN d db ON db.doc_id = cand.id_b),
       |${emIterCtes("ee", "qq", "aa", "w")},
       |sc AS (SELECT id_a, id_b,
       |    $contrib AS link_score
       |  FROM pairs CROSS JOIN w3),
       |m2 AS (SELECT id_a, id_b FROM sc
       |  WHERE link_score > CAST(0 AS DOUBLE)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM m2
       |  UNION SELECT id_b, id_a FROM m2),
       |walk(node, r) AS (
       |  SELECT doc_id, doc_id FROM d
       |  UNION
       |  SELECT eg.b, walk.r FROM walk JOIN eg ON eg.a = walk.node)
       |SELECT node AS id, MIN(r) AS entity_id FROM walk
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def sAnnIvfTop3(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    // deterministic centroids: the k lowest-vec_id embeddings verbatim
    // (trainCentroids' own seeding, zero Lloyd's rounds) — an external
    // oracle reproduces assignment + probing + scoring exactly. Lloyd's-
    // refined centroids stay the library path (trainCentroids iters>0,
    // covered by LlmOperatorsSpec's blob-recovery test).
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(Similarity.ivfIndex(base, centroids), queries,
        k = 3, centroids, nProbe = 3)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  def sAnnPqTop3(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    // deterministic codebooks: per subspace, the 8 lowest-vec_id
    // subvectors verbatim (trainPqCodebooks iters=0) — DuckDB mirrors
    // encode (argmin, first-min ties) + ADC scoring exactly. Lloyd's-
    // refined codebooks stay the library path (LlmOperatorsSpec).
    val codebooks = Similarity.trainPqCodebooks(base, dim = 64, m = 8,
      k = 8, iters = 0)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqTopK(Similarity.pqEncode(base, codebooks), queries,
        k = 3, codebooks)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  /** IVF-PQ composed: coarse probing prunes lists, ADC scores codes —
    * the FAISS IndexIVFPQ plan at corpus scale. Deterministic seeds for
    * BOTH quantizers (s_ann_ivf_top3 + s_ann_pq_top3 conventions), so
    * the oracle replays probe → encode → ADC → rank end to end. */
  def sAnnIvfPqTop3(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    val codebooks = Similarity.trainPqCodebooks(base, dim = 64, m = 8,
      k = 8, iters = 0)
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val index = Similarity.pqEncode(
      Similarity.ivfIndex(base, centroids), codebooks)
    Similarity.ivfPqTopK(index, queries, k = 3, centroids, codebooks,
        nProbe = 3)
      .select("qid", "rank", "nid")
      .orderBy("qid", "rank")
  }

  /** Persisted IVF-PQ index roundtrip: build → write parquet partitioned
    * by ivf_list (quantizers in a `_quantizers/` sidecar) → reload →
    * require the quantizers bit-exact → aggregate reloaded codes per
    * list. The oracle recomputes assignment + encoding from the raw
    * table, so a match proves the on-disk layout preserved every code
    * and the partition column itself. */
  def sIvfPqIndexRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    val cb = Similarity.trainPqCodebooks(base, dim = 64, m = 8, k = 8,
      iters = 0)
    val enc = Similarity.pqEncode(Similarity.ivfIndex(base, centroids), cb)
    // per-RUN temp dir: a fixed path shared across concurrent sessions
    // (Verify + Bench on the same sfDir) would let one run's
    // mode("overwrite") delete files mid-read under the other
    val out = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_").toString + "/idx"
    Similarity.writeIvfPqIndex(enc, centroids, cb, out)
    val idx = Similarity.readIvfPqIndex(s, out)
    require(idx.centroids == centroids && idx.codebooks == cb,
      "quantizer sidecar did not round-trip bit-exact")
    idx.data
      .withColumn("code_sum", expr(
        "aggregate(pq_code, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"))
      .groupBy(col("ivf_list").cast("int").as("ivf_list"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_vec_id"),
        sum(col("code_sum")).as("code_sum"))
      .orderBy("ivf_list")
  }

  /** Int8 quantization of the embedding table (the 100 TB storage path):
    * per-vector scale + exact integer digests of the quantized values —
    * deterministic IEEE arithmetic, mirrored exactly in the oracle. */
  def sQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(emb(s, dir).filter(col("vec_id") < 100),
        col("embedding"), "q")
      .select(col("vec_id"), col("q.scale").as("scale"),
        expr("CAST(aggregate(q.qs, 0, (a, x) -> a + CAST(x AS INT)) AS BIGINT)")
          .as("q_sum"),
        array_max(col("q.qs")).cast("int").as("q_max"))
      .orderBy("vec_id")

  def dEmbeddingNearDups(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
        emb(s, dir).filter(col("vec_id") < 200), minCosine = 0.3)
      .select("id_a", "id_b") // ids only: float-exact across engines
      .orderBy("id_a", "id_b")

  /** Per-language document-length quantiles via the mergeable GK sketch
    * ([[graft.operators.Stats.quantileProfile]]). accuracy (1e6) ≥ any
    * verification-SF group size, so every returned element is the exact
    * discrete order statistic — the same convention as the oracle's
    * `quantile_disc`. At 100 TB the same plan ships bounded sketches
    * through the shuffle with rank error n/accuracy. */
  def aQuantileProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.quantileProfile(
        docs(s, dir).select(col("lang"), length(col("text")).as("len")),
        Seq(col("lang")), col("len"),
        probs = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0), accuracy = 1000000)
      .select(col("lang"), col("prob"), col("value").as("len_q"))
      .orderBy("lang", "prob")

  /** Exact-integer covariance of the embedding corpus in long form
    * ([[graft.operators.Pca.exactCovarianceLongForm]]): floor-quantized
    * BIGINT co-moments with one fixed closing division — the
    * oracle-checkable face of the PCA family (float covariance sums
    * cannot hash across engines; these do, all 2080 upper-triangle
    * entries). */
  def sEmbeddingCovariance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.exactCovarianceLongForm(emb(s, dir),
        col("embedding"), quant = 100.0)
      .orderBy("i", "j")

  /** SemDeDup end to end over the FULL embeddings table: deterministic
    * seed centroids (k lowest vec_ids verbatim, as s_ann_ivf_top3), pairs
    * only within clusters, CC survivors. Per-cluster counts — assignment,
    * pair graph, and component structure all have to agree with the
    * oracle's independent recursive-CTE replay for the row to match. */
  def dSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = Similarity.trainCentroids(base, k = 8, iters = 0)
    val assigned = Similarity.ivfIndex(base, centroids)
      .select(col("vec_id"), col("ivf_list").as("cluster"))
    val pairs = Similarity.semanticDedupPairs(base, centroids, minCosine = 0.3)
    val survivors = Similarity.semanticDedup(base, centroids, minCosine = 0.3)
    val rowStats = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_rows"))
    val pairStats = pairs.groupBy("cluster")
      .agg(count(lit(1)).as("n_dup_pairs"))
    val survStats = assigned
      .join(survivors, assigned("vec_id") === survivors("id"), "left_semi")
      .groupBy("cluster").agg(count(lit(1)).as("n_survivors"))
    rowStats
      .join(pairStats, Seq("cluster"), "left")
      .join(survStats, Seq("cluster"), "left")
      .select(col("cluster"),
        col("n_rows"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
      .orderBy("cluster")
  }

  def tRollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    // gramHash=md5: min-over-hex-strings is identical in DuckDB, so the
    // registered query is oracle-checked end to end (round 5; xxhash64
    // stays the operator default for 8-byte shuffle keys at scale, and is
    // exercised by LlmOperatorsSpec + `Probe scale`). r16: via the JVM fast
    // path [[TA.rollingMinMd5]] — bit-identical by spec test + oracle;
    // the explode form paid ~len(t) md5+string rows per doc through a
    // Generate and an aggregate (3.03 s → sub-second isolated).
    val fps = TA.rollingMinMd5(docs(s, dir), col("doc_id"), col("text"),
        k = 8)
      .withColumnRenamed("id", "doc_id")
    fps.join(docs(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fingerprint")).as("distinct_fp"))
      .orderBy("source")
  }

  // ---- DuckDB-oracle TWINS that isolate single verification stages of
  // the hash pipelines on small fixed candidate sets. Since round 5 the
  // FULL pipelines are oracle'd too (portable md5 families above); the
  // twins stay because a stage-level mismatch localizes a regression the
  // end-to-end compare can only flag.

  /** Containment near-dups over an inline doc-in-doc fixture: each
    * container (id+2M) is doc i's text concatenated with doc (i+1)%30's,
    * so the contained doc keeps containment 1.0 while Jaccard dilutes to
    * ~0.5 — exactly the asymmetry [[Dedup.containmentPairs]] exists for.
    * The oracle recomputes tokenize → shingle → intersect → divide over
    * ALL pairs; matching proves the rare-shingle candidate pass loses no
    * qualifying pair on top of the arithmetic being exact. */
  def dContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") < 30)
      .select("doc_id", "text")
    val a = base.select(col("doc_id").as("id_a"), col("text").as("ta"))
    val b = base.select(col("doc_id").as("id_b"), col("text").as("tb"))
    val containers = a.join(b, col("id_b") === (col("id_a") + 1) % 30)
      .select((col("id_a") + 2000000).as("doc_id"),
        concat(col("ta"), lit(" "), col("tb")).as("text"))
    Dedup.containmentPairs(base.unionByName(containers), col("doc_id"),
        col("text"), shingleK = 3, minContainment = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** EXACT Jaccard similarity self-join via prefix filtering
    * ([[Dedup.jaccardJoinPrefix]], the AllPairs/PPJoin shape) on a
    * bounded fixture: 60 docs plus a one-token-perturbed twin of the
    * first 20. The oracle recomputes ALL pairs — a match certifies the
    * prefix-filter candidate pass had zero false negatives at this
    * threshold (the d_containment_pairs certification style). */
  def dJaccardPrefixPairs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") < 60)
      .select("doc_id", "text")
    val twins = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text"))
    Dedup.jaccardJoinPrefix(base.unionByName(twins), col("doc_id"),
        lower(col("text")), minJaccard = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** Maximal duplicated token spans across the whole corpus
    * ([[Dedup.duplicateSpans]]): runs of ≥ 3 consecutive duplicated
    * 5-shingles, reported in token coordinates. The distributed stand-in
    * for suffix-array substring dedup — the oracle recomputes shingle
    * frequencies and the gaps-and-islands grouping in full SQL. */
  def dDuplicateSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(docs(s, dir), col("doc_id"), col("text"),
        w = 5, minShingles = 3)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_shingles"))
      .orderBy("doc_id", "span_start")

  /** Duplicated-span removal ([[Dedup.removeDupSpans]]): the corpus
    * after excising every non-canonical occurrence of a duplicated
    * ≥ 3-shingle run (canonical = global min (doc, pos) per digest).
    * The oracle rebuilds the election, the islands, and the token-level
    * excision in full SQL — matching clean_text strings certify the
    * rewrite byte for byte (24 affected docs, 1254 tokens at sf0.01). */
  def dRemoveDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(docs(s, dir), col("doc_id"), col("text"),
        w = 5, minShingles = 3)
      .orderBy("id")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))

  /** Maximal duplicated spans per document pair ([[Dedup.maxDupSpans]]):
    * the alignment face of d_duplicate_spans — WHICH two documents share
    * each maximal run of ≥ 3 consecutive matching 5-shingles, and at
    * which token positions in each. The oracle replays the digest
    * self-join and the per-(pair, diagonal) gaps-and-islands coalescing
    * in full SQL — a hash match certifies every maximal span, both
    * endpoints, exactly. */
  def dMaxDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.maxDupSpans(docs(s, dir), col("doc_id"), col("text"),
        w = 5, minShingles = 3)
      .orderBy("id_a", "id_b", "start_a", "start_b")

  /** SymSpell edit-distance-1 join ([[Dedup.editDistanceJoin]]) over
    * part names plus planted single-edit variants (substitution at char
    * 3, prefix insertion, prefix deletion — the three Levenshtein edit
    * kinds, built with the same substr arithmetic the oracle replays).
    * The oracle is ALL-PAIRS `levenshtein` over the same fixture —
    * deliberately ignorant of the deletion-neighborhood candidate pass,
    * so a hash match certifies zero candidate false negatives. */
  def dEdit1Pairs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey").as("id"), col("p_name").as("s"))
    val sub = base.select((col("id") + 1000000).as("id"),
      concat(col("s").substr(1, 2), lit("q"),
        col("s").substr(lit(4), length(col("s")))).as("s"))
    val ins = base.select((col("id") + 2000000).as("id"),
      concat(lit("q"), col("s")).as("s"))
    val del = base.select((col("id") + 3000000).as("id"),
      col("s").substr(lit(2), length(col("s"))).as("s"))
    Dedup.editDistanceJoin(
        base.unionByName(sub).unionByName(ins).unionByName(del),
        col("id"), col("s"))
      .orderBy("id_a", "id_b")
  }

  /** Jaro–Winkler blocked join ([[Dedup.jaroWinklerJoin]]) over part
    * names plus planted transposition (chars 4↔5) and substitution
    * (char 5 → 'q') typos — the error shapes Winkler's matcher was
    * built for. Scoring is the native `graft_jaro`/`graft_jaro_winkler`
    * codegen kernels; the oracle replays the same fixture, the same
    * (first byte, ⌊octet_length/4⌋) blocking, and scores with DuckDB's
    * OWN jaro_similarity/jaro_winkler_similarity — so a hash match
    * certifies the kernels are bit-identical to DuckDB's across every
    * candidate pair, float columns included. */
  def dJaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").filter(col("p_partkey") <= 200)
      .select(col("p_partkey").as("id"), col("p_name").as("s"))
    val swap = base.select((col("id") + 1000000).as("id"),
      concat(col("s").substr(1, 3), col("s").substr(5, 1),
        col("s").substr(4, 1),
        col("s").substr(lit(6), length(col("s")))).as("s"))
    val sub = base.select((col("id") + 2000000).as("id"),
      concat(col("s").substr(1, 4), lit("q"),
        col("s").substr(lit(6), length(col("s")))).as("s"))
    Dedup.jaroWinklerJoin(base.unionByName(swap).unionByName(sub),
        col("id"), col("s"), threshold = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** Exact 3-word-shingle Jaccard over a fixed bounded candidate set
    * (docs < 30 plus their injected near-dup twins) — the verification
    * tail of [[Dedup.minhashNearDups]], DuckDB-checked end to end. */
  def dShingleJaccardTwin(s: SparkSession, dir: String): DataFrame = {
    val bounded = docsWithNearDups(s, dir).filter(col("doc_id") % 1000000 < 30)
    val posting = Dedup.shinglePosting(bounded, col("doc_id"), col("text"), 3)
    val sets = posting.groupBy("id").agg(collect_list(col("sh")).as("sh"))
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** [[Dedup.hamming64]] (bit_count∘xor — the distance simhash near-dup
    * thresholds on) over deterministic doc_id-derived signatures, so the
    * expression itself is DuckDB-checked bit for bit. */
  def dHammingTwin(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") < 50)
      .withColumn("hamming", Dedup.hamming64(
        col("doc_id") * 1315423911L,
        col("doc_id") * 2654435761L + 98765L).cast("int"))
      .select("doc_id", "hamming")
      .orderBy("doc_id")

  /** The full winnowing structure of [[TA.rollingMinHashes]] — normalize,
    * 8-char grams, min over gram hashes — under md5 instead of xxhash64,
    * which makes the min (lexicographic over hex strings) identical in
    * DuckDB: the one hash swap turns a rows-only sketch into an
    * oracle-checked one. */
  def tRollingFpMd5Twin(s: SparkSession, dir: String): DataFrame =
    TA.rollingMinHashes(docs(s, dir).filter(col("doc_id") < 50),
        col("doc_id"), col("text"), k = 8, gramHash = g => md5(g.cast("binary")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Gopher-style repetition filter stats per document (bounded output;
    * the operator itself is corpus-scale). */
  def tRepetitionStats(s: SparkSession, dir: String): DataFrame =
    TA.repetitionStats(docs(s, dir).filter(col("doc_id") < 80),
        col("doc_id"), col("text"), n = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** PII count + redaction over text augmented with a deterministic
    * doc_id-derived email and phone (the raw corpus has none — the
    * augmentation is mirrored in the oracle, so the counts and the md5 of
    * the REDACTED text are exact cross-engine checks). */
  def tPiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"), lit(" contact"), col("doc_id").cast("string"),
      lit("@example.com or +1 (555) 010-1234"))
    docs(s, dir).filter(col("doc_id") < 80)
      .select(col("doc_id"),
        TA.patternCount(aug, TA.EmailRe).cast("bigint").as("n_emails"),
        TA.patternCount(aug, TA.PhoneRe).cast("bigint").as("n_phones"),
        md5(TA.redactPii(aug).cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Per-domain URL stats over text augmented with deterministic
    * doc_id-derived URLs (the raw corpus has none — the augmentation is
    * mirrored in the oracle): domain-level grouping is how curation
    * pipelines weight, cap, or block sources. */
  def tUrlDomains(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" see https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.org/p/"), col("doc_id").cast("string"),
      lit(" or http://ref"), (col("doc_id") % 3).cast("string"), lit(".net"))
    docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(TA.extractUrls(aug)).as("url"))
      .groupBy(TA.urlDomain(col("url")).as("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("domain")
  }

  /** Token-window chunking with overlap (32-token chunks, 8 overlap) —
    * the sequence-packing precursor; md5 of each chunk makes the oracle
    * compare exact. */
  def tChunking(s: SparkSession, dir: String): DataFrame =
    TA.chunkByTokens(docs(s, dir).filter(col("doc_id") < 40),
        col("doc_id"), col("text"), maxTokens = 32, overlap = 8)
      .withColumnRenamed("id", "doc_id")
      .withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
      .drop("chunk_text")
      .orderBy("doc_id", "chunk_idx")

  /** Deterministic 80/10/10 corpus split by id hash — label counts and
    * first id per split, exact across engines. */
  def tHashSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TA.hashSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
      .orderBy("split")

  /** Repeated 16-token windows over docs + their injected near-dup twins
    * (the twins guarantee shared spans) — substring-level dup detection. */
  def dDupWindows(s: SparkSession, dir: String): DataFrame =
    TA.duplicateWindows(
        docsWithNearDups(s, dir).filter(col("doc_id") % 1000000 < 100),
        col("doc_id"), col("text"), k = 16)
      .orderBy("window_md5")

  /** Benchmark decontamination fixture: every 50th document plays the
    * eval set, so hits exist by construction (each benchmark doc flags at
    * least itself; near-dups of one surface too). k=8 (vs the published
    * 13-gram default) keeps in-fixture gram overlap at test SF. */
  def tDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Curation.contaminationHits(d, col("doc_id"), col("text"),
        d.filter(col("doc_id") % 50 === 0), col("text"), k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Fuzzy (paraphrase-level) decontamination under the portable
    * Md5Minhash family: the bench side is each doc<15 with every 'batch'
    * token substituted — zero shared 8-grams with its source around each
    * edit, but minhash Jaccard stays high, exactly the leak the exact
    * checker misses. The oracle replays the full banded pipeline over a
    * numeric-id union (internal id representation differs; flagged TRAIN
    * ids, hit counts, and exact-Jaccard maxima are representation-
    * independent, which is what the match proves). */
  def tFuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") < 15)
      .select(expr("replace(text, 'batch', 'shifted')").as("text"))
    Curation.fuzzyContaminationHits(d, col("doc_id"), col("text"),
        bench, col("text"), family = Dedup.Md5Minhash)
      .select(col("id").cast("long").as("doc_id"), col("n_hits"),
        col("max_jaccard"))
      .orderBy("doc_id")
  }

  /** CCNet-style LM quality scoring against a reference subset (every
    * 10th doc): exact integer transition counters + one division — the
    * engine-portable face of NgramLm (perplexity itself is transcendental
    * and golden-tested instead). */
  def tLmTransitions(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.NgramLm.transitionStats(d, col("doc_id"), col("text"),
        d.filter(col("doc_id") % 10 === 0), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** CCNet-style LM perplexity per document ([[graft.operators.NgramLm
    * .logProbStats]]): mean −ln P(w2|w1) under the same every-10th-doc
    * reference model as t_lm_transitions, summed by the fixed-order
    * in-row fold so the only cross-engine hazard left is ln/exp's last
    * ulp — hence the rounded registered face (the jsDivergence
    * convention; nll at 12 decimals, the exp-amplified ppl at 9). */
  def tLmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.NgramLm.logProbStats(d, col("doc_id"), col("text"),
        d.filter(col("doc_id") % 10 === 0), col("text"))
      .withColumnRenamed("id", "doc_id")
      .withColumn("nll", round(col("nll"), 12))
      .withColumn("ppl", round(col("ppl"), 9))
      .orderBy("doc_id")
  }

  /** CCNet head/middle/tail terciles per language
    * ([[graft.operators.NgramLm.ccnetBuckets]]) under the same
    * every-10th-doc reference model as t_lm_perplexity. The bucket is
    * rank arithmetic over the bit-exact nll order, so the oracle's
    * NTILE replay hashes exactly with no float column at all. */
  def tCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.NgramLm.ccnetBuckets(d, col("doc_id"), col("text"),
        col("lang"), d.filter(col("doc_id") % 10 === 0), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization (`graft_nfc`,
    * [[graft.plans.NfcKernel]]) over part names with injected canonical
    * hazards: a decomposed café, a cedilla+acute needing canonical
    * REORDERING before composition, a precomposed Å (must pass
    * through), a dot-above/dot-below reorder-and-recompose, and Hangul
    * jamo composition. The oracle runs DuckDB's own `nfc_normalize` on
    * the same construction — a hash match certifies the JDK and
    * utf8proc agree byte-for-byte on UAX #15 across the fixture,
    * normalized text and octet counts included. */
  def tUnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").filter(col("p_partkey") <= 150)
      .select(col("p_partkey").as("id"), col("p_name").as("s0"))
    base.select(col("id"),
        // explicit escapes -- composed/decomposed forms must be exact:
        // decomposed cafe+acute; e+cedilla+acute (already in canonical
        // ccc order, composes to U+0229 + kept acute); precomposed
        // U+00C5; U+1E0B (d with dot above, precomposed) + combining
        // dot below U+0323 (decompose, reorder below<above, recompose
        // to U+1E0D + U+0307); Hangul jamo U+1100 U+1161 (-> U+AC00)
        concat(col("s0"), lit(" café "), lit("ȩ́"),
          lit(" Å ḍ̇ 가")).as("raw"))
      .withColumn("n_raw", octet_length(col("raw")))
      .withColumn("nfc", call_function("graft_nfc", col("raw")))
      .withColumn("n_nfc", octet_length(col("nfc")))
      .select("id", "n_raw", "nfc", "n_nfc")
      .orderBy("id")
  }

  /** Deterministic target-mixture sampling: per-source keep rates applied
    * by md5-threshold — counts are exact across engines AND runs. */
  def tMixtureSample(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureSample(docs(s, dir), col("doc_id"), col("source"),
        rates = Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 0.5,
          "src3" -> 0.75),
        defaultRate = 1.0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"))
      .orderBy("source")

  /** Corpus-level boilerplate line removal over an injected-template
    * fixture: even-id docs gain a shared banner and footer line (df =
    * half the corpus ≫ minDf), odd docs stay as-is; the op must strip
    * exactly the injected lines plus any naturally-repeated full texts.
    * Emits md5 of each cleaned doc — the oracle replays line hashing,
    * distinct-doc df, anti-join, and in-order reassembly in SQL. */
  def tBoilerplateLines(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(lit("shared cookie banner\n"), col("text"),
          lit("\nshared footer line")))
        .otherwise(col("text")).as("text"))
    Curation.removeBoilerplateLines(base, col("doc_id"), col("text"),
        minDf = 3, lineHash = l => md5(l.cast("binary")))
      .select(col("id").as("doc_id"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Exact-COUNT stratified sample: the deterministic first 25 docs per
    * source in md5-of-id order — the fixed-size companion to
    * t_mixture_sample's fixed-rate spec. Engine-portable hash order, so
    * the oracle reproduces the exact member set, not just counts. */
  def tStratifiedSample(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(docs(s, dir), col("doc_id"), col("source"), n = 25)
      .select("source", "sampled_rank", "doc_id")
      .orderBy("source", "sampled_rank")

  /** Weight-biased sampling without replacement: 5 docs per language,
    * priority `u/n_chars` with the deterministic md5-uniform — longer
    * documents are proportionally likelier to be drawn. The oracle
    * replays the identical divisions (exact 60-bit integer → double,
    * two correctly-rounded IEEE steps), so the double priorities agree
    * bit-for-bit across engines. */
  def tWeightedSample(s: SparkSession, dir: String): DataFrame =
    Curation.weightedPrioritySample(docs(s, dir), col("doc_id"),
      col("lang"), col("n_chars"), n = 5)
      .select("lang", "sampled_rank", "doc_id", "n_chars")
      .orderBy("lang", "sampled_rank")

  /** Online Poisson bootstrap of mean chars-per-doc per lang ([[graft
    * .operators.Stats.poissonBootstrapMean]]): 100 replicates via the
    * md5-uniform Poisson(1) weights (literal CDF thresholds — no libm
    * at runtime), exact BIGINT replicate sums, exact discrete
    * order-statistic CI, SE folded over the sorted means — every
    * column hashes unrounded. */
  def aPoissonBootstrap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.poissonBootstrapMean(docs(s, dir),
        Seq("lang"), col("doc_id"), col("n_chars"), reps = 100,
        quantScale = 1.0)
      .orderBy("lang")

  /** Greedy sequence packing over the first 200 docs with the exact
    * single-partition (global) contract — the oracle replays the same
    * greedy scan as a recursive CTE. The partition-parallel form is the
    * scale path (LlmOperatorsSpec). */
  def tSeqPacking(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens"))
    Curation.packSequences(d, col("doc_id"), col("n_tokens"),
        budget = 256, numPartitions = 1)
      .withColumn("pack_idx", element_at(split(col("pack_id"), "_"), 2).cast("int"))
      .groupBy("pack_idx")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("pack_idx")
  }

  def dDedupCorpus(s: SparkSession, dir: String): DataFrame =
    // Md5Minhash family (round 5): with the portable hashes, the ENTIRE
    // flow — exact survivors, minhash-LSH pairs, connected components,
    // canonical-survivor selection — is mirrored in DuckDB (recursive-CTE
    // min-label propagation), so the oracle checks it end to end.
    Dedup.dedupCorpus(docsWithNearDups(s, dir), col("doc_id"), col("text"),
        minJaccard = 0.5, family = Dedup.Md5Minhash)
      .orderBy("id")

  def mFrameFeatures(s: SparkSession, dir: String): DataFrame = {
    val items = Multimodal.fromDocuments(s, docs(s, dir))
    Multimodal.extractFeatures(items, framesPerItem = 4).toDF()
      .groupBy("frame_idx")
      .agg(count(lit(1)).as("n_frames"),
        sum(expr("aggregate(feature, 0D, (a, x) -> a + x)")).as("feature_mass"))
      .orderBy("frame_idx")
  }

  /** Real-codec round trip (round 6): synthesize a deterministic 2×2 PNG
    * per document id, decode it back with `javax.imageio`, and emit pixel
    * sums FROM THE DECODED IMAGE. PNG is lossless, so the oracle computes
    * the same sums directly from the pixel formula — a match proves the
    * numbers came from actual decoded pixels, not from the payload bytes
    * (the md5 stub, fed the same payloads, could not reproduce them). */
  def mPngPixelStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 20)
      .select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val png = Multimodal.encodePng(2, 2, (x, y) => {
          val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((id * 17 + x * 5 + y * 3) % 256).toInt
          val b = ((id * 7 + x * 11 + y * 19) % 256).toInt
          (r << 16) | (g << 8) | b
        })
        val st = Multimodal.decodeImageStats(png).getOrElse(
          sys.error(s"PNG round-trip failed for id $id"))
        (id, st.width, st.height, st.sumR, st.sumG, st.sumB)
      }
    }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** JPEG decode through the real lossy codec, oracle-exact: per id a
    * constant-gray w×h JPEG (the one image class ImageIO round-trips
    * bit-exactly — see [[Multimodal.encodeJpeg]]) is ENCODED (DCT +
    * quantization + Huffman) then DECODED back to pixel sums. The magic
    * bytes pin that a real JPEG container went through; the sums formula
    * (w·h·v per channel) is replayed by the oracle in integer SQL. */
  def mJpegPixelStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 20)
      .select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (3 + id % 6).toInt
        val h = (2 + id % 5).toInt
        val v = ((id * 37 + 11) % 256).toInt
        val jpg = Multimodal.encodeJpeg(w, h,
          (_, _) => (v << 16) | (v << 8) | v)
        require(jpg.length > 2 &&
          (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8,
          s"not a JPEG payload for id $id")
        val st = Multimodal.decodeImageStats(jpg).getOrElse(
          sys.error(s"JPEG round-trip failed for id $id"))
        (id, st.width, st.height, st.sumR, st.sumG, st.sumB)
      }
    }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** The verify tail of the 64-bit signature near-dup queries: banded
    * candidates (4 bands) over `sigs` (id, simhash), both signatures
    * joined back, and the pairs within `maxBits` Hamming distance. */
  private def hashNearDupPairs(sigs: DataFrame, maxBits: Int): DataFrame =
    Dedup.simhashCandidatesFromSigs(sigs, bands = 4)
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("ha")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("hb")), "id_b")
      .withColumn("hamming", Dedup.hamming64(col("ha"), col("hb")))
      .filter(col("hamming") <= maxBits)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** Image near-dup detection end to end through the REAL codec: 9×8 PNGs
    * from the m_png pixel formula (base images for doc_id < 40, verbatim
    * twins at +1000 for doc_id < 12, one-pixel-edited near twins at +2000
    * for doc_id < 6) are encoded, decoded, perceptually hashed
    * ([[Multimodal.dHash64]]), banded through the SAME 64-bit machinery as
    * text simhash, and Hamming-verified. The twins differ by ≤ 2 bits, so
    * 4 bands guarantee a candidate (pigeonhole). The oracle replays pixel
    * formula → integer luminance → comparison bits → hash (HUGEINT
    * assembly, wrapped to signed 64) → bands → Hamming in pure SQL — a
    * match proves the real decode → hash → band → verify chain. */
  def mDhashNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
    val images = ids.mapPartitions { it =>
      it.flatMap { id =>
        def png(bump: Boolean): Array[Byte] =
          Multimodal.encodePng(9, 8, (x, y) => {
            val r0 = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val r = if (bump && x == 4 && y == 3) (r0 + 16) % 256 else r0
            val g = ((id * 17 + x * 5 + y * 3) % 256).toInt
            val b = ((id * 7 + x * 11 + y * 19) % 256).toInt
            (r << 16) | (g << 8) | b
          })
        Seq(id -> png(bump = false)) ++
          (if (id < 12) Seq((id + 1000) -> png(bump = false)) else Nil) ++
          (if (id < 6) Seq((id + 2000) -> png(bump = true)) else Nil)
      }
    }.toDF("id", "payload")
    hashNearDupPairs(
      Multimodal.imageDHashes(images, col("id"), col("payload")), maxBits = 6)
  }

  /** pHash (DCT) image near-duplicate detection — the frequency-domain
    * sibling of m_dhash_neardups over REAL 32×32 PNGs: exact-pixel
    * re-encodes (id+1000) land at Hamming 0, scattered-pixel noise
    * (id+2000, ~10 bumped pixels) stays within the threshold because
    * median-thresholded global frequencies absorb local noise, and a
    * uniform +24 brightness shift (id+3000) is near-invariant because
    * the odd-u basis rows of [[graft.operators.Multimodal.DctT]] sum to
    * exactly zero. Integer-exact end to end (fixed-point DCT), so the
    * oracle replays pixels → luma → BIGINT DCT (the same interpolated
    * table) → median threshold → bits → bands → Hamming in plain SQL. */
  def mPhashNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
    val images = ids.mapPartitions { it =>
      it.flatMap { id =>
        def png(noise: Boolean, bright: Int): Array[Byte] =
          Multimodal.encodePng(32, 32, (x, y) => {
            val r0 = ((id * 31 + x * 7 + y * 13) % 200).toInt
            val r1 = if (noise && (x * 7 + y * 11) % 97 == 0)
              (r0 + 50) % 200 else r0
            val g = ((id * 17 + x * 5 + y * 3) % 200).toInt
            val b = ((id * 7 + x * 11 + y * 19) % 200).toInt
            ((r1 + bright) << 16) | ((g + bright) << 8) | (b + bright)
          })
        Seq(id -> png(noise = false, bright = 0)) ++
          (if (id < 12) Seq((id + 1000) -> png(noise = false, bright = 0))
           else Nil) ++
          (if (id < 6) Seq((id + 2000) -> png(noise = true, bright = 0))
           else Nil) ++
          (if (id < 6) Seq((id + 3000) -> png(noise = false, bright = 24))
           else Nil)
      }
    }.toDF("id", "payload")
    hashNearDupPairs(
      Multimodal.imagePHashes(images, col("id"), col("payload")), maxBits = 8)
  }

  /** EXIF provenance extraction end to end ([[Multimodal.exifTags]]):
    * deterministic per-doc EXIF JPEGs — real SOI/APP1/TIFF byte
    * structures via [[Multimodal.encodeExifJpeg]], alternating byte
    * orders, IFD0 + Exif + (every third id) GPS sub-IFDs, out-of-line
    * ASCII/RATIONAL values — parsed back by the byte-walk into
    * (id, tag, value) rows. Ids ≡ 0 (mod 7) get a TRUNCATED payload
    * (broken APP1 length) and ids ≡ 1 (mod 7) a JPEG with no APP1 at
    * all: both must contribute zero rows, never a throw — the honest-
    * null contract. The oracle replays only the planted tag VALUES
    * (pure doc_id arithmetic); the bytes in between are the real codec
    * under test. */
  def mExifFields(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 60)
      .select(col("doc_id")).as[Long]
    val images = ids.mapPartitions { it =>
      it.map { id =>
        val full = Multimodal.encodeExifJpeg(
          littleEndian = id % 2 == 0,
          make = s"Cam${id % 5}",
          model = s"M-${id % 3}",
          orientation = (id % 8 + 1).toInt,
          dateTime = f"2023:01:${id % 28 + 1}%02d 10:00:00",
          xResolution = (72 + id % 4, 1L),
          exposure = (1L, 50 + id % 200),
          iso = (100 + (id % 16) * 25).toInt,
          pixelX = 640 + id % 1024,
          gpsLatRef = if (id % 3 == 0)
            Some(if (id % 2 == 0) "N" else "S") else None)
        val payload =
          if (id % 7 == 0) full.take(12) // truncated mid-APP1: corrupt
          else if (id % 7 == 1) // SOI + EOI: well-formed, no EXIF
            Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte)
          else full
        (id, payload)
      }
    }.toDF("doc_id", "payload")
    Multimodal.exifFields(images, col("doc_id"), col("payload"))
      .orderBy("id", "tag")
  }

  /** Audio near-duplicate detection end to end: deterministic PCM-16
    * payloads through the REAL RIFF encode→decode chain, fingerprinted
    * by [[Multimodal.audioDHash64]] (energy-envelope delta bits), banded
    * into candidate buckets, and thresholded on Hamming distance — the
    * audio face of m_dhash_neardups. Volume-doubled twins (id+1000, an
    * EXACT ×2 on every sample) land at Hamming 0, proving the envelope
    * delta's volume invariance; locally-bumped twins (id+2000, +300 on
    * samples 10..19) land within the band threshold. Integer-exact
    * throughout, so the oracle replays sample formula → windows → bits →
    * buckets → Hamming in plain SQL. */
  def mAudioFingerprintNeardups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
    val audio = ids.mapPartitions { it =>
      it.flatMap { id =>
        val n = (130 + id).toInt
        def wav(mul: Int, bump: Boolean): Array[Byte] = {
          val samples = Array.tabulate(n) { i =>
            val base = (((id * 37 + i * 73) % 4001) - 2000).toInt * mul
            (base + (if (bump && i >= 10 && i < 20) 300 else 0)).toShort
          }
          Multimodal.encodeWavPcm16(8000, samples)
        }
        Seq(id -> wav(1, bump = false)) ++
          (if (id < 12) Seq((id + 1000) -> wav(2, bump = false)) else Nil) ++
          (if (id < 6) Seq((id + 2000) -> wav(1, bump = true)) else Nil)
      }
    }.toDF("id", "payload")
    hashNearDupPairs(
      Multimodal.audioFingerprints(audio, col("id"), col("payload")),
      maxBits = 6)
  }

  /** Real-resize round trip: synthesize a deterministic `w×h` PNG per id
    * (w, h vary by id), downscale it with [[Multimodal.resizeImage]]
    * (nearest-neighbor, floor integer index math) to fit maxDim = 3, and
    * emit pixel sums FROM A DECODE OF THE RESIZED PAYLOAD. Every step is
    * exact integer arithmetic over lossless PNGs, so the oracle replays
    * fitDims + the source-index math + the pixel formula in plain SQL —
    * a match proves the resampled pixels came from a real decode→resize→
    * re-encode→decode chain. */
  def mResizePixelStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 12)
      .select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val png = Multimodal.encodePng(w, h, (x, y) => {
          val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((id * 17 + x * 5 + y * 3) % 256).toInt
          val b = ((id * 7 + x * 11 + y * 19) % 256).toInt
          (r << 16) | (g << 8) | b
        })
        val (ow, oh) = Multimodal.fitDims(w, h, 3)
        val resized = Multimodal.resizeImage(png, ow, oh).getOrElse(
          sys.error(s"resize failed for id $id"))
        val st = Multimodal.decodeImageStats(resized).getOrElse(
          sys.error(s"decode of resized PNG failed for id $id"))
        (id, st.width, st.height, st.sumR, st.sumG, st.sumB)
      }
    }.toDF("media_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** Video face of the codec layer: synthesize a REAL multi-frame
    * animated GIF per id (frame count, dims, and gray levels all
    * id-derived), decode EVERY frame back through the container reader
    * (`getNumImages(true)` — the frame count comes from the file, not
    * the formula), and emit exact per-frame pixel sums. The oracle
    * replays the frame/dim/gray formulas in SQL — a match proves real
    * multi-frame encode→decode, which the md5 stub cannot fake. */
  def mGifFrameStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 10)
      .select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.flatMap { id =>
        val n = (2 + id % 3).toInt
        val w = (4 + id % 3).toInt
        val h = (5 + id % 2).toInt
        val gif = Multimodal.encodeGif(w, h, n,
          (f, x, y) => ((id * 11 + f * 50 + x * 7 + y * 13) % 256).toInt)
        val frames = Multimodal.decodeGifStats(gif).getOrElse(
          sys.error(s"GIF round-trip failed for id $id"))
        require(frames.size == n, s"container lost frames for id $id")
        frames.map(fr => (id, fr.frameIdx, fr.width, fr.height, fr.sumR))
      }
    }.toDF("media_id", "frame_idx", "width", "height", "sum_gray")
      .orderBy("media_id", "frame_idx")
  }

  /** Audio twin of [[mPngPixelStats]]: synthesize a REAL RIFF/WAVE
    * payload per id from a sample formula, parse it back with the
    * chunk-walking PCM decoder, and emit exact sample stats FROM THE
    * DECODED AUDIO. The oracle recomputes the same stats from the
    * formula — a match proves the numbers came from actually-parsed
    * samples. */
  def mWavSampleStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docs(s, dir).filter(col("doc_id") < 20)
      .select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (50 + id).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 37 + i * 73) % 4001) - 2000).toShort)
        val wav = Multimodal.encodeWavPcm16(44100, samples)
        val st = Multimodal.decodeWavStats(wav).getOrElse(
          sys.error(s"WAV round-trip failed for id $id"))
        (id, st.sampleRate, st.nSamples, st.sumSamples,
          st.minSample, st.maxSample)
      }
    }.toDF("media_id", "sample_rate", "n_samples", "sum_samples",
        "min_sample", "max_sample")
      .orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_wav_sample_stats" -> (mWavSampleStats _),
    "t_token_stats" -> (tTokenStats _),
    "t_bpe_encode" -> (tBpeEncode _),
    "t_quality_stopwords" -> (tQualityStopwords _),
    "t_langid_confusion" -> (tLangidConfusion _),
    "a_langid_report" -> (aLangidReport _),
    "a_langid_kappa" -> (aLangidKappa _),
    "a_langid_mcc" -> (aLangidMcc _),
    "t_bm25_top5" -> (tBm25Top5 _),
    "t_tfidf_cosine_top3" -> (tTfidfCosineTop3 _),
    "t_rrf_hybrid" -> (tRrfHybrid _),
    "t_cms_token_counts" -> (tCmsTokenCounts _),
    "t_heavy_hitters" -> (tHeavyHitters _),
    "t_pmi_bigrams" -> (tPmiBigrams _),
    "t_url_canonical" -> (tUrlCanonical _),
    "t_fingerprint_md5" -> (tFingerprintMd5 _),
    "t_rolling_fingerprint" -> (tRollingFingerprint _),
    "d_shingle_jaccard_twin" -> (dShingleJaccardTwin _),
    "d_containment_pairs" -> (dContainmentPairs _),
    "d_jaccard_prefix_pairs" -> (dJaccardPrefixPairs _),
    "d_duplicate_spans" -> (dDuplicateSpans _),
    "d_max_dup_spans" -> (dMaxDupSpans _),
    "d_remove_dup_spans" -> (dRemoveDupSpans _),
    "d_edit1_pairs" -> (dEdit1Pairs _),
    "d_jaro_winkler_pairs" -> (dJaroWinklerPairs _),
    "t_repetition_stats" -> (tRepetitionStats _),
    "t_pii_redaction" -> (tPiiRedaction _),
    "t_chunking" -> (tChunking _),
    "t_hash_split" -> (tHashSplit _),
    "d_dup_windows" -> (dDupWindows _),
    "d_hamming_twin" -> (dHammingTwin _),
    "t_rolling_fp_md5_twin" -> (tRollingFpMd5Twin _),
    "d_token_jaccard_pairs" -> (dTokenJaccardPairs _),
    "d_dup_clusters" -> (dDupClusters _),
    "d_cluster_survivors" -> (dClusterSurvivors _),
    "d_cluster_best" -> (dClusterBest _),
    "d_incremental_dedup" -> (dIncrementalDedup _),
    "d_state_compaction" -> (dStateCompaction _),
    "m_binary_meta" -> (mBinaryMeta _),
    "m_warc_roundtrip" -> (mWarcRoundtrip _),
    "s_ann_brute_top5" -> (sAnnBruteTop5 _),
    "s_mmr_top5" -> (sMmrTop5 _),
    "s_hard_negatives" -> (sHardNegatives _),
    "s_quantize_int8" -> (sQuantizeInt8 _),
    "s_embedding_covariance" -> (sEmbeddingCovariance _),
    "d_minhash_neardups" -> (dMinhashNearDups _),
    "d_dedup_corpus" -> (dDedupCorpus _),
    "t_decontaminate" -> (tDecontaminate _),
    "t_fuzzy_decontaminate" -> (tFuzzyDecontaminate _),
    "t_lm_transitions" -> (tLmTransitions _),
    "t_lm_perplexity" -> (tLmPerplexity _),
    "t_ccnet_buckets" -> (tCcnetBuckets _),
    "t_unicode_nfc" -> (tUnicodeNfc _),
    "t_mixture_sample" -> (tMixtureSample _),
    "t_stratified_sample" -> (tStratifiedSample _),
    "t_weighted_sample" -> (tWeightedSample _),
    "a_poisson_bootstrap" -> (aPoissonBootstrap _),
    "t_boilerplate_lines" -> (tBoilerplateLines _),
    "t_seq_packing" -> (tSeqPacking _),
    "t_url_domains" -> (tUrlDomains _),
    "d_simhash_neardups" -> (dSimhashNearDups _),
    "s_ann_lsh_top3" -> (sAnnLshTop3 _),
    "s_ann_ivf_top3" -> (sAnnIvfTop3 _),
    "s_cluster_quality" -> (sClusterQuality _),
    "s_davies_bouldin" -> (sDaviesBouldin _),
    "t_linkage_weights" -> (tLinkageWeights _),
    "t_linkage_score" -> (tLinkageScore _),
    "t_linkage_em" -> (tLinkageEm _),
    "t_entity_resolution" -> (tEntityResolution _),
    "s_ann_pq_top3" -> (sAnnPqTop3 _),
    "s_ann_ivfpq_top3" -> (sAnnIvfPqTop3 _),
    "s_ivfpq_index_roundtrip" -> (sIvfPqIndexRoundtrip _),
    "d_embedding_neardups" -> (dEmbeddingNearDups _),
    "d_semantic_dedup" -> (dSemanticDedup _),
    "a_quantile_profile" -> (aQuantileProfile _),
    "m_frame_features" -> (mFrameFeatures _),
    "m_png_pixel_stats" -> (mPngPixelStats _),
    "m_jpeg_pixel_stats" -> (mJpegPixelStats _),
    "m_dhash_neardups" -> (mDhashNearDups _),
    "m_phash_neardups" -> (mPhashNearDups _),
    "m_exif_fields" -> (mExifFields _),
    "m_audio_fingerprint_neardups" -> (mAudioFingerprintNeardups _),
    "m_resize_pixel_stats" -> (mResizePixelStats _),
    "m_gif_frame_stats" -> (mGifFrameStats _),
  )

  private val stopList = TA.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")

  /** 60-bit base-16 parse of md5-hex digits `lo..lo+14` (1-based) — the
    * DuckDB mirror of Spark's `conv(substring(hx, lo, 15), 16, 10)`.
    * Shift-sum digit arithmetic: 16^14 exceeds double precision, so the
    * value must never pass through a float. */
  private def hex15ToLong(lo: Int): String =
    "CAST(list_sum(list_transform(range(1, 16), j -> " +
      s"CAST(strpos('0123456789abcdef', substr(hx, CAST(j AS INTEGER) + ${lo - 1}, 1)) - 1 AS BIGINT)" +
      " << (4 * (15 - CAST(j AS INTEGER))))) AS BIGINT)"

  /** The shared DuckDB mirror of [[Dedup.minhashNearDups]] under
    * [[Dedup.Md5Minhash]]: tokenize → 3-shingles → ONE md5 per shingle →
    * two 60-bit halves → Kirsch–Mitzenmacher seeded minima → 8 band
    * buckets (md5 of the comma-joined slice) → ≤200 bucket cap → bucket
    * self-join. Parameterized on the docs CTE name so the near-dup query
    * and the full dedup-corpus query share one definition. */
  private def minhashSqlCtes(from: String): String =
    s"""t AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> length(x) > 0) AS toks
       |  FROM $from),
       |sh AS (SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> array_to_string(toks[i:i+2], ' ')))
       |    END AS sh
       |  FROM t),
       |p AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |p2 AS (SELECT doc_id, ${hex15ToLong(1)} AS h1,
       |    ${hex15ToLong(16)} % (CAST(1 AS BIGINT) << 55) AS h2
       |  FROM (SELECT doc_id, md5(s) AS hx FROM p)),
       |m AS (SELECT doc_id, h,
       |    MIN((h1 + h * h2) & ((CAST(1 AS BIGINT) << 60) - 1)) AS mh
       |  FROM p2 CROSS JOIN range(24) r(h) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(mh ORDER BY h) AS sig FROM m GROUP BY 1),
       |bk AS (SELECT doc_id, b,
       |    md5(array_to_string(sig[(b*3 + 1):(b*3 + 3)], ',')) AS bucket
       |  FROM sig CROSS JOIN range(8) rb(b)),
       |capped AS (SELECT doc_id, b, bucket FROM (
       |    SELECT doc_id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
       |    FROM bk) WHERE n <= 200),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM capped a JOIN capped c
       |    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id)""".stripMargin

  /** DuckDB mirror of the portable simhash pipeline (60 bits). Generated:
    * 60 conditional-sum aggregates + the bit-reassembly polynomial are the
    * same loop the Spark side builds its columns with. The 60-bit token
    * hash is digit-by-digit shift arithmetic over md5 hex — 16^14 exceeds
    * double precision, so no float may touch the value. */
  private val simhashOracleSql: String = {
    val h60 = "CAST(list_sum(list_transform(range(1, 16), j -> " +
      "CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)" +
      " << (4 * (15 - CAST(j AS INTEGER))))) AS BIGINT)"
    val sums = (0 until 60).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n    ")
    val assemble = (0 until 60).map(i =>
      s"(CASE WHEN b$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' appended' FROM documents),
       |t AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> length(x) > 0) AS toks
       |  FROM d),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |hh AS (SELECT doc_id, $h60 AS h FROM tok),
       |s AS (SELECT doc_id, $sums FROM hh GROUP BY 1),
       |sig AS (SELECT doc_id, $assemble AS simhash FROM s),
       |bk AS (SELECT doc_id, b, (simhash >> CAST(b * 15 AS INTEGER)) & 32767 AS bucket
       |  FROM sig CROSS JOIN range(4) r(b)),
       |capped AS (SELECT doc_id, b, bucket FROM (
       |    SELECT doc_id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
       |    FROM bk) WHERE n <= 200),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM capped a JOIN capped c
       |    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 8
       |ORDER BY 1, 2""".stripMargin
  }

  /** SQL mirror of [[hashNearDupPairs]] over a `sig` (id, simhash)
    * CTE: 4 16-bit band buckets, buckets over 200 members dropped,
    * distinct candidate pairs, and the pairs within `maxBits` Hamming
    * distance. */
  private def hashNearDupPairsSql(maxBits: Int): String =
    s"""bk AS (SELECT id, b,
       |    (simhash >> CAST(b * 16 AS INTEGER)) & 65535 AS bucket
       |  FROM sig CROSS JOIN range(4) rb(b)),
       |capped AS (SELECT id, b, bucket FROM (
       |    SELECT id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
       |    FROM bk) WHERE n <= 200),
       |cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b
       |  FROM capped a JOIN capped c
       |    ON a.b = c.b AND a.bucket = c.bucket AND a.id < c.id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $maxBits
       |ORDER BY 1, 2""".stripMargin

  /** m_phash_neardups mirror — built programmatically so the
    * fixed-point DCT table is interpolated from
    * [[graft.operators.Multimodal.DctT]], the single source of truth
    * for both engines. */
  private val phashOracle: String = {
    val ttRows = (for (u <- 0 until 8; x <- 0 until 32) yield
      s"($u, $x, ${graft.operators.Multimodal.DctT(u)(x)})").mkString(", ")
    s"""WITH imgs AS (
       |  SELECT doc_id AS id, doc_id AS src, FALSE AS noise, 0 AS bright
       |  FROM documents WHERE doc_id < 40
       |  UNION ALL
       |  SELECT doc_id + 1000, doc_id, FALSE, 0 FROM documents
       |  WHERE doc_id < 12
       |  UNION ALL
       |  SELECT doc_id + 2000, doc_id, TRUE, 0 FROM documents
       |  WHERE doc_id < 6
       |  UNION ALL
       |  SELECT doc_id + 3000, doc_id, FALSE, 24 FROM documents
       |  WHERE doc_id < 6),
       |tt AS (SELECT * FROM (VALUES $ttRows) v(u, x, c)),
       |px AS (SELECT id, x, y,
       |    CASE WHEN noise AND (x * 7 + y * 11) % 97 = 0
       |         THEN ((src * 31 + x * 7 + y * 13) % 200 + 50) % 200
       |         ELSE (src * 31 + x * 7 + y * 13) % 200 END + bright AS r,
       |    (src * 17 + x * 5 + y * 3) % 200 + bright AS g,
       |    (src * 7 + x * 11 + y * 19) % 200 + bright AS b
       |  FROM imgs CROSS JOIN range(32) xs(x) CROSS JOIN range(32) ys(y)),
       |gr AS (SELECT id, x, y,
       |    (r * 299 + g * 587 + b * 114) // 1000 AS gray FROM px),
       |f AS (SELECT gr.id, tu.u AS u, tv.u AS v,
       |    CAST(SUM(CAST(gr.gray AS BIGINT) * tu.c * tv.c) AS BIGINT) AS f
       |  FROM gr JOIN tt tu ON tu.x = gr.x JOIN tt tv ON tv.x = gr.y
       |  GROUP BY 1, 2, 3),
       |ac AS (SELECT id, u, v, f FROM f WHERE NOT (u = 0 AND v = 0)),
       |med AS (SELECT id, f AS med FROM (
       |    SELECT id, f, ROW_NUMBER() OVER (PARTITION BY id ORDER BY f)
       |      AS rn FROM ac) WHERE rn = 32),
       |sig AS (SELECT ac.id,
       |    CAST(SUM(CASE WHEN ac.f > med.med
       |      THEN (CAST(1 AS BIGINT) <<
       |        CAST(ac.v * 8 + ac.u - 1 AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM ac JOIN med ON med.id = ac.id GROUP BY 1),
       |${hashNearDupPairsSql(8)}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the WAV oracle knows the PCM formula, not the payload: agreement
    // proves the engine's numbers came from real RIFF parsing
    "m_wav_sample_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 20),
        |g AS (SELECT media_id,
        |    unnest(range(0, 50 + media_id)) AS i FROM ids),
        |s AS (SELECT media_id,
        |    ((media_id*37 + i*73) % 4001) - 2000 AS v FROM g)
        |SELECT media_id, CAST(44100 AS INTEGER) AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sum_samples,
        |  CAST(MIN(v) AS INTEGER) AS min_sample,
        |  CAST(MAX(v) AS INTEGER) AS max_sample
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // bigram LM over the every-10th-doc reference subset (count desc +
    // lexicographic cap order — non-binding at this SF but mirrored);
    // counters are exact ints, known_frac one division, likely test an
    // integer cross-multiply
    "t_lm_transitions" ->
      """WITH nrm AS (SELECT doc_id, list_filter(string_split_regex(trim(
        |      regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents),
        |tr AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS t
        |    FROM nrm WHERE len(toks) >= 2)),
        |lm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tr
        |  WHERE doc_id % 10 = 0 GROUP BY 1, 2
        |  ORDER BY c2 DESC, w1, w2 LIMIT 250000),
        |pc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |j AS (SELECT tr.doc_id, lm.c2, pc.c1
        |  FROM tr LEFT JOIN lm ON lm.w1 = tr.w1 AND lm.w2 = tr.w2
        |  LEFT JOIN pc ON pc.w1 = tr.w1)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_trans,
        |  CAST(SUM(CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known,
        |  CAST(SUM(CASE WHEN c2 IS NOT NULL AND c2 * 100 >= c1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_likely,
        |  CAST(SUM(CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS known_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same tokenize/model CTEs as t_lm_transitions, plus position-ordered
    // transitions; the fold is first-element-seeded list_reduce, equal to
    // Spark's zero-seeded fold because 0.0 + x = x exactly in IEEE
    "t_lm_perplexity" ->
      """WITH nrm AS (SELECT doc_id, list_filter(string_split_regex(trim(
        |      regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents),
        |tr AS (SELECT doc_id, t.pos AS pos, t.w1 AS w1, t.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> struct_pack(pos := i - 1, w1 := toks[i], w2 := toks[i+1]))) AS t
        |    FROM nrm WHERE len(toks) >= 2)),
        |lm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tr
        |  WHERE doc_id % 10 = 0 GROUP BY 1, 2
        |  ORDER BY c2 DESC, w1, w2 LIMIT 250000),
        |pc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |vv AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) + 1 AS v FROM lm),
        |j AS (SELECT tr.doc_id, tr.pos,
        |    -ln((CAST(COALESCE(lm.c2, 0) AS DOUBLE) + 0.5) /
        |        (CAST(COALESCE(pc.c1, 0) AS DOUBLE)
        |         + 0.5 * CAST(vv.v AS DOUBLE))) AS nll
        |  FROM tr LEFT JOIN lm ON lm.w1 = tr.w1 AND lm.w2 = tr.w2
        |  LEFT JOIN pc ON pc.w1 = tr.w1 CROSS JOIN vv),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
        |    (0.0 + list_reduce(list(nll ORDER BY pos), (a, b) -> a + b))
        |      / COUNT(*) AS m
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_trans, ROUND(m, 12) AS nll, ROUND(exp(m), 9) AS ppl
        |FROM g ORDER BY doc_id""".stripMargin,
    // CCNet-buckets mirror: the t_lm_perplexity pipeline (unrounded m)
    // + per-language NTILE over (m, doc_id) — rank arithmetic over the
    // bit-exact nll order, so no float column reaches the hash.
    "t_ccnet_buckets" ->
      """WITH nrm AS (SELECT doc_id, list_filter(string_split_regex(trim(
        |      regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents),
        |tr AS (SELECT doc_id, t.pos AS pos, t.w1 AS w1, t.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> struct_pack(pos := i - 1, w1 := toks[i], w2 := toks[i+1]))) AS t
        |    FROM nrm WHERE len(toks) >= 2)),
        |lm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tr
        |  WHERE doc_id % 10 = 0 GROUP BY 1, 2
        |  ORDER BY c2 DESC, w1, w2 LIMIT 250000),
        |pc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |vv AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) + 1 AS v FROM lm),
        |j AS (SELECT tr.doc_id, tr.pos,
        |    -ln((CAST(COALESCE(lm.c2, 0) AS DOUBLE) + 0.5) /
        |        (CAST(COALESCE(pc.c1, 0) AS DOUBLE)
        |         + 0.5 * CAST(vv.v AS DOUBLE))) AS nll
        |  FROM tr LEFT JOIN lm ON lm.w1 = tr.w1 AND lm.w2 = tr.w2
        |  LEFT JOIN pc ON pc.w1 = tr.w1 CROSS JOIN vv),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
        |    (0.0 + list_reduce(list(nll ORDER BY pos), (a, b) -> a + b))
        |      / COUNT(*) AS m
        |  FROM j GROUP BY doc_id),
        |b AS (SELECT g.doc_id, d.lang, g.n_trans,
        |    CAST(NTILE(3) OVER (PARTITION BY d.lang ORDER BY g.m, g.doc_id)
        |      AS INTEGER) AS bucket_i
        |  FROM g JOIN documents d ON d.doc_id = g.doc_id)
        |SELECT doc_id, lang, n_trans, bucket_i,
        |  CASE WHEN bucket_i = 1 THEN 'head' WHEN bucket_i = 3 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,
    // NFC mirror: identical codepoint construction via chr()
    // (encoding-proof), normalized by DuckDB's OWN nfc_normalize — a
    // hash match certifies JDK Normalizer == utf8proc on composition,
    // canonical reordering, pass-through, and Hangul for this fixture.
    "t_unicode_nfc" ->
      """WITH base AS (
        |  SELECT p_partkey AS id,
        |    p_name || ' cafe' || chr(769) || ' ' ||
        |      'e' || chr(807) || chr(769) ||
        |      ' ' || chr(197) || ' ' || chr(7691) || chr(803) || ' ' ||
        |      chr(4352) || chr(4449) AS raw
        |  FROM part WHERE p_partkey <= 150)
        |SELECT id, CAST(strlen(raw) AS INTEGER) AS n_raw,
        |  nfc_normalize(raw) AS nfc,
        |  CAST(strlen(nfc_normalize(raw)) AS INTEGER) AS n_nfc
        |FROM base ORDER BY id""".stripMargin,
    // replace-chain BPE over the ‹symbol›-wrapped text, innermost replace
    // = rank-0 merge; token count = symbol count minus space symbols
    // (each '‹ ›' is 3 codepoints); md5 over the same UTF-8 bytes
    "t_bpe_encode" ->
      """WITH e AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(text, '\s+', ' ', 'g'),
        |                     '(.)', '‹\1›', 'g'),
        |      '‹t›‹h›', '‹th›'), '‹th›‹e›', '‹the›'), '‹i›‹n›', '‹in›'),
        |      '‹a›‹n›', '‹an›'), '‹e›‹r›', '‹er›'), '‹o›‹n›', '‹on›'),
        |      '‹an›‹d›', '‹and›'), '‹o›‹r›', '‹or›') AS enc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((length(enc) - length(replace(enc, '‹', '')))
        |    - (length(enc) - length(replace(enc, '‹ ›', ''))) / 3
        |    AS BIGINT) AS n_bpe_tokens,
        |  md5(enc) AS enc_md5
        |FROM e ORDER BY doc_id""".stripMargin,
    // list_filter(length>0) mirrors wsTokens' empty-token filter — same
    // value on this fixture, but an empty/whitespace-only text would
    // otherwise count 1 in DuckDB vs 0 in Spark
    "t_token_stats" ->
      """WITH t AS (SELECT lang,
        |    length(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> length(x) > 0)) AS n
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(MAX(n) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_quality_stopwords" ->
      s"""WITH d AS (SELECT source,
         |    length(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      x -> length(x) > 0)) AS n_tokens,
         |    length(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      x -> list_contains($stopList, x))) AS n_stop
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_stop) AS BIGINT) AS total_stop,
         |  CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS stop_ratio
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_langid_confusion" -> {
      def hits(stops: Seq[String]) =
        s"length(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
          s"x -> list_contains(${stops.map(w => s"'$w'").mkString("[", ", ", "]")}, x)))"
      s"""WITH v AS (SELECT lang,
         |    ${hits(TA.EnStop)} AS ve, ${hits(TA.DeStop)} AS vd,
         |    ${hits(TA.EsStop)} AS vs, ${hits(TA.FrStop)} AS vf
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN ve > 0 AND ve >= vd AND ve >= vs AND ve >= vf THEN 'en'
         |       WHEN vd > 0 AND vd >= ve AND vd >= vs AND vd >= vf THEN 'de'
         |       WHEN vs > 0 AND vs >= ve AND vs >= vd AND vs >= vf THEN 'es'
         |       WHEN vf > 0 AND vf >= ve AND vf >= vd AND vf >= vs THEN 'fr'
         |       ELSE 'und' END AS guess,
         |  COUNT(*) AS n
         |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // Classification-report mirror: same vote/tie-break guess as
    // t_langid_confusion, then confusion counts re-agged per (source,
    // class) with the FULL join keeping truth-only and predicted-only
    // classes; metrics single divisions ("precision" quoted — reserved
    // via DOUBLE PRECISION).
    "a_langid_report" -> {
      def hits(stops: Seq[String]) =
        s"length(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
          s"x -> list_contains(${stops.map(w => s"'$w'").mkString("[", ", ", "]")}, x)))"
      s"""WITH v0 AS (SELECT source, lang,
         |    ${hits(TA.EnStop)} AS ve, ${hits(TA.DeStop)} AS vd,
         |    ${hits(TA.EsStop)} AS vs, ${hits(TA.FrStop)} AS vf
         |  FROM documents),
         |v AS (SELECT source, lang,
         |  CASE WHEN ve > 0 AND ve >= vd AND ve >= vs AND ve >= vf THEN 'en'
         |       WHEN vd > 0 AND vd >= ve AND vd >= vs AND vd >= vf THEN 'de'
         |       WHEN vs > 0 AND vs >= ve AND vs >= vd AND vs >= vf THEN 'es'
         |       WHEN vf > 0 AND vf >= ve AND vf >= vd AND vf >= vs THEN 'fr'
         |       ELSE 'und' END AS guess
         |  FROM v0),
         |c AS (SELECT source, lang AS t, guess AS p FROM v
         |  WHERE lang IS NOT NULL AND guess IS NOT NULL),
         |cm AS (SELECT source, t, p, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM c GROUP BY 1, 2, 3),
         |tc AS (SELECT source, t AS class, CAST(SUM(n) AS BIGINT) AS n_true
         |  FROM cm GROUP BY 1, 2),
         |pc AS (SELECT source, p AS class, CAST(SUM(n) AS BIGINT) AS n_pred
         |  FROM cm GROUP BY 1, 2),
         |tpx AS (SELECT source, t AS class, n AS tp FROM cm WHERE t = p),
         |j AS (SELECT COALESCE(tc.source, pc.source) AS source,
         |    COALESCE(tc.class, pc.class) AS class,
         |    COALESCE(tc.n_true, 0) AS n_true,
         |    COALESCE(pc.n_pred, 0) AS n_pred
         |  FROM tc FULL JOIN pc
         |    ON pc.source = tc.source AND pc.class = tc.class)
         |SELECT j.source AS source, j.class AS class, j.n_true, j.n_pred,
         |  COALESCE(tpx.tp, 0) AS tp,
         |  CASE WHEN j.n_pred > 0 THEN
         |    CAST(COALESCE(tpx.tp, 0) AS DOUBLE) / CAST(j.n_pred AS DOUBLE)
         |  END AS "precision",
         |  CASE WHEN j.n_true > 0 THEN
         |    CAST(COALESCE(tpx.tp, 0) AS DOUBLE) / CAST(j.n_true AS DOUBLE)
         |  END AS recall,
         |  CASE WHEN j.n_true + j.n_pred > 0 THEN
         |    2.0 * CAST(COALESCE(tpx.tp, 0) AS DOUBLE)
         |      / CAST(j.n_true + j.n_pred AS DOUBLE)
         |  END AS f1
         |FROM j LEFT JOIN tpx
         |  ON tpx.source = j.source AND tpx.class = j.class
         |ORDER BY source, class""".stripMargin
    },
    // Cohen's-kappa mirror: κ = (a·N − p)/(N² − p) over exact counts.
    "a_langid_kappa" -> {
      def hits(stops: Seq[String]) =
        s"length(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
          s"x -> list_contains(${stops.map(w => s"'$w'").mkString("[", ", ", "]")}, x)))"
      s"""WITH v0 AS (SELECT source, lang,
         |    ${hits(TA.EnStop)} AS ve, ${hits(TA.DeStop)} AS vd,
         |    ${hits(TA.EsStop)} AS vs, ${hits(TA.FrStop)} AS vf
         |  FROM documents),
         |v AS (SELECT source, lang,
         |  CASE WHEN ve > 0 AND ve >= vd AND ve >= vs AND ve >= vf THEN 'en'
         |       WHEN vd > 0 AND vd >= ve AND vd >= vs AND vd >= vf THEN 'de'
         |       WHEN vs > 0 AND vs >= ve AND vs >= vd AND vs >= vf THEN 'es'
         |       WHEN vf > 0 AND vf >= ve AND vf >= vd AND vf >= vs THEN 'fr'
         |       ELSE 'und' END AS guess
         |  FROM v0),
         |c AS (SELECT source, lang AS a, guess AS b FROM v
         |  WHERE lang IS NOT NULL AND guess IS NOT NULL),
         |ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM c GROUP BY 1),
         |c1 AS (SELECT source, a AS cl, CAST(COUNT(*) AS BIGINT) AS n1
         |  FROM c GROUP BY 1, 2),
         |c2 AS (SELECT source, b AS cl, CAST(COUNT(*) AS BIGINT) AS n2
         |  FROM c GROUP BY 1, 2),
         |pe AS (SELECT c1.source AS source,
         |    CAST(SUM(n1 * n2) AS BIGINT) AS pe
         |  FROM c1 JOIN c2 ON c2.source = c1.source AND c2.cl = c1.cl
         |  GROUP BY 1)
         |SELECT ag.source AS source, ag.n AS n, ag.n_agree AS n_agree,
         |  CASE WHEN ag.n * ag.n <> COALESCE(pe.pe, 0) THEN
         |    CAST(ag.n * ag.n_agree - COALESCE(pe.pe, 0) AS DOUBLE)
         |      / CAST(ag.n * ag.n - COALESCE(pe.pe, 0) AS DOUBLE)
         |  END AS kappa
         |FROM ag LEFT JOIN pe ON pe.source = ag.source
         |ORDER BY source""".stripMargin
    },
    // MCC mirror: exact 2x2 cells, numerator exact BIGINT, denominator
    // margins cast to double BEFORE multiplying (product can reach N^4),
    // fixed left-to-right order.
    "a_langid_mcc" -> {
      def hits(stops: Seq[String]) =
        s"length(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
          s"x -> list_contains(${stops.map(w => s"'$w'").mkString("[", ", ", "]")}, x)))"
      s"""WITH v0 AS (SELECT source, lang,
         |    ${hits(TA.EnStop)} AS ve, ${hits(TA.DeStop)} AS vd,
         |    ${hits(TA.EsStop)} AS vs, ${hits(TA.FrStop)} AS vf
         |  FROM documents),
         |v AS (SELECT source, lang,
         |  CASE WHEN ve > 0 AND ve >= vd AND ve >= vs AND ve >= vf THEN 'en'
         |       WHEN vd > 0 AND vd >= ve AND vd >= vs AND vd >= vf THEN 'de'
         |       WHEN vs > 0 AND vs >= ve AND vs >= vd AND vs >= vf THEN 'es'
         |       WHEN vf > 0 AND vf >= ve AND vf >= vd AND vf >= vs THEN 'fr'
         |       ELSE 'und' END AS guess
         |  FROM v0),
         |c AS (SELECT source, lang = 'en' AS t, guess = 'en' AS p FROM v
         |  WHERE lang IS NOT NULL),
         |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn,
         |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp
         |  FROM c GROUP BY 1)
         |SELECT source, n, tp, tn, fn, fp,
         |  CASE WHEN CAST(tp + fp AS DOUBLE) > 0.0
         |        AND CAST(tp + fn AS DOUBLE) > 0.0
         |        AND CAST(tn + fp AS DOUBLE) > 0.0
         |        AND CAST(tn + fn AS DOUBLE) > 0.0 THEN
         |    CAST(tp * tn - fp * fn AS DOUBLE) /
         |      sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
         |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
         |  END AS mcc
         |FROM a ORDER BY source""".stripMargin
    },
    // Exact BM25 mirror: same tokenization, same expression tree shape —
    // ratio idf ((N−df+0.5)/(df+0.5)), k1=1.5/b=0.75 (exactly
    // representable, so 2.5/1.5/0.25/0.75 are the same doubles in both
    // engines), ≤2 terms per query so the per-doc score sum is
    // order-independent. Scores hash bit-for-bit.
    "t_bm25_top5" -> {
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> length(t) > 0) AS toks
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(toks)) AS BIGINT) AS total_dl FROM toks),
        |idx AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
        |    MAX(dl) AS dl FROM idx GROUP BY 1, 2),
        |q AS (SELECT * FROM (VALUES (1, 'vector'), (1, 'join'),
        |    (2, 'stream'), (2, 'filter'), (3, 'customer'), (3, 'spark'))
        |  AS t(qid, term)),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1),
        |m AS (SELECT q.qid, tf.doc_id, tf.tf, tf.dl, dft.df_t
        |  FROM q JOIN tf USING (term) JOIN dft USING (term)),
        |s AS (SELECT qid, doc_id, SUM(
        |    ((n_docs - df_t + 0.5) / (df_t + 0.5)) *
        |    ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 *
        |      (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))) AS score
        |  FROM m, stats GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM s)
        |SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, score
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },
    // Sparse TF-IDF cosine mirror: ratio idf = single IEEE ops; both
    // engines fold dot/norm sums in sorted term order (Spark array_sort +
    // aggregate == list_sum(list(v ORDER BY term))), so cos matches bit
    // for bit.
    "t_tfidf_cosine_top3" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> length(t) > 0) AS toks FROM d),
        |idx AS (SELECT doc_id, unnest(toks) AS term FROM toks),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM idx GROUP BY 1, 2),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t
        |  FROM tf GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n_docs FROM d),
        |vecs AS (SELECT tf.doc_id AS id, tf.term,
        |    tf.tf * (CAST(n_docs AS DOUBLE) / df_t) AS w
        |  FROM tf JOIN dft USING (term), stats),
        |norms AS (SELECT id, sqrt(list_sum(list(w * w ORDER BY term))) AS nrm
        |  FROM vecs GROUP BY 1),
        |qv AS (SELECT id AS qid, term, w AS qw FROM vecs WHERE id < 5),
        |dots AS (SELECT qv.qid, v.id,
        |    list_sum(list(qv.qw * v.w ORDER BY qv.term)) AS dot
        |  FROM qv JOIN vecs v USING (term) WHERE v.id <> qv.qid
        |  GROUP BY 1, 2),
        |cs AS (SELECT d2.qid, d2.id,
        |    CASE WHEN qn.nrm * bn.nrm = 0 THEN 0
        |         ELSE d2.dot / (qn.nrm * bn.nrm) END AS cos
        |  FROM dots d2 JOIN norms qn ON qn.id = d2.qid
        |  JOIN norms bn ON bn.id = d2.id),
        |r AS (SELECT qid, id, cos, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, id) AS INT) AS rank FROM cs)
        |SELECT qid, rank, id AS doc_id, cos
        |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // RRF hybrid mirror: replay BOTH ranked lists (the tfidf-cosine and
    // brute-cosine mirrors at k=10 over the shared <200 universe), then
    // the fusion. The input cosine SCALES are not portable but their
    // RANKS are (same float dots, same tie-breaks), and the fused score
    // is rank arithmetic: 1/(60+rank) single divisions, two-addend sum —
    // rrf hashes exactly.
    "t_rrf_hybrid" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> length(t) > 0) AS toks FROM d),
        |idx AS (SELECT doc_id, unnest(toks) AS term FROM toks),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM idx GROUP BY 1, 2),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t
        |  FROM tf GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n_docs FROM d),
        |vecs AS (SELECT tf.doc_id AS id, tf.term,
        |    tf.tf * (CAST(n_docs AS DOUBLE) / df_t) AS w
        |  FROM tf JOIN dft USING (term), stats),
        |norms AS (SELECT id, sqrt(list_sum(list(w * w ORDER BY term))) AS nrm
        |  FROM vecs GROUP BY 1),
        |qv AS (SELECT id AS qid, term, w AS qw FROM vecs WHERE id < 5),
        |dots AS (SELECT qv.qid, v.id,
        |    list_sum(list(qv.qw * v.w ORDER BY qv.term)) AS dot
        |  FROM qv JOIN vecs v USING (term) WHERE v.id <> qv.qid
        |  GROUP BY 1, 2),
        |cs AS (SELECT d2.qid, d2.id,
        |    CASE WHEN qn.nrm * bn.nrm = 0 THEN 0
        |         ELSE d2.dot / (qn.nrm * bn.nrm) END AS cos
        |  FROM dots d2 JOIN norms qn ON qn.id = d2.qid
        |  JOIN norms bn ON bn.id = d2.id),
        |sp AS (SELECT qid, id AS doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM cs
        |  QUALIFY rank <= 10),
        |eq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT qid, b.vec_id AS nid,
        |    list_cosine_similarity(qe, CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM eq CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 200) b
        |  WHERE b.vec_id <> qid),
        |dn AS (SELECT qid, nid AS doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM scored
        |  QUALIFY rank <= 10),
        |u AS (SELECT qid, doc_id, rank FROM sp
        |  UNION ALL SELECT qid, doc_id, rank FROM dn),
        |f AS (SELECT qid, doc_id,
        |    SUM(CAST(1 AS DOUBLE) / (60 + rank)) AS rrf,
        |    CAST(COUNT(*) AS BIGINT) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT qid, doc_id, rrf, n_lists, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INT) AS rank
        |  FROM f)
        |SELECT qid, rank, doc_id, rrf, n_lists
        |FROM fr WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // URL-canonicalization mirror: the same six string rules, each a
    // regexp/split/sort step both engines define identically.
    "t_url_canonical" ->
      """WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 40),
        |u AS (SELECT doc_id, unnest([
        |    'HTTPS://WWW.' || upper(source) || '.COM:443/Path/A?utm_campaign=x&z=1&a=2#sec',
        |    'http://' || source || '.com:80/a/',
        |    'http://' || source || '.com/?fbclid=abc&ref=tw',
        |    'https://' || source || '.com/path?b=2&a=1&gclid=g',
        |    'http://' || source || '.com']) AS url FROM d),
        |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |s2 AS (SELECT *, regexp_extract(nofrag,
        |    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS authraw FROM s1),
        |s3 AS (SELECT *, substr(nofrag, length(authraw) + 1) AS rest,
        |    regexp_replace(regexp_replace(lower(authraw),
        |      '^(http://.*):80$', '\1'), '^(https://.*):443$', '\1') AS auth
        |  FROM s2),
        |s4 AS (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path,
        |    regexp_extract(rest, '\?(.*)$', 1) AS query FROM s3),
        |s5 AS (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(query, '&'), p -> length(p) > 0 AND NOT
        |      regexp_matches(p, '^(utm_[A-Za-z]+|gclid|fbclid|ref)='))), '&') AS sq,
        |    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(path, '/+$', '') END AS pathnorm FROM s4)
        |SELECT doc_id, url, auth || pathnorm ||
        |  CASE WHEN sq <> '' THEN '?' || sq ELSE '' END AS canon
        |FROM s5 ORDER BY doc_id, url""".stripMargin,
    // Count-Min mirror: same md5(j || ':' || k) mod 512 family, counter
    // build and 4-row min both replayed; estimates are deterministic so
    // the row hashes must agree exactly.
    "t_cms_token_counts" ->
      (s"""WITH toks AS (SELECT list_filter(string_split_regex(trim(lower(text)),
         |      '\\s+'), t -> length(t) > 0) AS toks FROM documents),
         |tk AS (SELECT unnest(toks) AS k FROM toks),
         |ex AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM tk GROUP BY 1),
         |top AS (SELECT k, n_exact FROM ex ORDER BY n_exact DESC, k LIMIT 10),
         |bu AS (SELECT k, rw, ${hex15ToLong(1)} % 512 AS bucket FROM
         |  (SELECT tk.k, r.rw, md5(CAST(r.rw AS VARCHAR) || ':' || tk.k) AS hx
         |   FROM tk CROSS JOIN range(4) r(rw))),
         |cms AS (SELECT rw, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bu GROUP BY 1, 2),
         |pb AS (SELECT k, rw, ${hex15ToLong(1)} % 512 AS bucket FROM
         |  (SELECT top.k, r.rw, md5(CAST(r.rw AS VARCHAR) || ':' || top.k) AS hx
         |   FROM top CROSS JOIN range(4) r(rw))),
         |est AS (SELECT pb.k, MIN(COALESCE(cms.cnt, 0)) AS n_est
         |  FROM pb LEFT JOIN cms ON cms.rw = pb.rw AND cms.bucket = pb.bucket
         |  GROUP BY 1)
         |SELECT top.k AS token, top.n_exact, est.n_est
         |FROM top JOIN est ON est.k = top.k
         |ORDER BY token""".stripMargin),
    // Heavy-hitters mirror: the PLAIN exact GROUP-BY/HAVING — deliberately
    // ignorant of the Misra-Gries candidate pass, so a hash match
    // certifies the candidate union had zero false negatives end to end.
    // CAST(0.0015 AS DOUBLE) forces the same IEEE product both engines
    // (DuckDB's bare 0.0015 would be DECIMAL and could ceil differently
    // at an exact-integer boundary).
    "t_heavy_hitters" ->
      """WITH toks AS (SELECT list_filter(string_split_regex(trim(lower(text)),
        |      '\s+'), t -> length(t) > 0) AS toks FROM documents),
        |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS k FROM toks
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(toks))) AS i) r),
        |ex AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bg)
        |SELECT ex.k AS bigram, ex.n,
        |  CAST(ex.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
        |FROM ex, tot t
        |WHERE ex.n >= CEIL(CAST(0.0015 AS DOUBLE) * t.n_total)
        |ORDER BY bigram""".stripMargin,
    // PMI/lift mirror: every count exact; the lift products stay below
    // 2^53 so each double intermediate is an exact integer and the one
    // division is correctly rounded identically in both engines.
    "t_pmi_bigrams" ->
      """WITH toks AS (SELECT list_filter(string_split_regex(trim(lower(text)),
        |      '\s+'), t -> length(t) > 0) AS toks FROM documents),
        |tk AS (SELECT unnest(toks) AS x FROM toks),
        |uni AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x FROM tk GROUP BY 1),
        |bgr AS (SELECT toks[i] AS x, toks[i+1] AS y,
        |    toks[i] || ' ' || toks[i+1] AS bigram FROM toks
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(toks))) AS i) r),
        |bg AS (SELECT bigram, x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM bgr GROUP BY 1, 2, 3),
        |tots AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM tk),
        |totb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM bgr)
        |SELECT bg.bigram, bg.n_xy, ux.n_x, uy.n_x AS n_y,
        |  (CAST(bg.n_xy AS DOUBLE) * CAST(t1.n_uni AS DOUBLE)
        |     * CAST(t1.n_uni AS DOUBLE))
        |  / (CAST(t2.n_big AS DOUBLE) * CAST(ux.n_x AS DOUBLE)
        |     * CAST(uy.n_x AS DOUBLE)) AS lift
        |FROM bg JOIN uni ux ON ux.x = bg.x JOIN uni uy ON uy.x = bg.y,
        |  tots t1, totb t2
        |WHERE bg.n_xy >= 5
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin,
    "t_fingerprint_md5" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp,
        |  COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM documents GROUP BY 1 ORDER BY 1 LIMIT 50""".stripMargin,
    // Containment mirror: ALL-pairs exact recompute (tokenize → 3-shingle
    // → list_intersect → divide) over the doc-in-doc fixture; the Spark
    // side only ever examines rare-shingle candidates, so a match also
    // certifies zero candidate-pass false negatives at this threshold.
    "d_containment_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT a.doc_id + 2000000, a.text || ' ' || b.text
        |  FROM documents a JOIN documents b ON b.doc_id = (a.doc_id + 1) % 30
        |  WHERE a.doc_id < 30),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM d),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' ')))
        |    END AS sh
        |  FROM t),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |    CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, inter, n_a, n_b,
        |  CAST(inter AS DOUBLE) / n_a AS c_a_in_b,
        |  CAST(inter AS DOUBLE) / n_b AS c_b_in_a
        |FROM pairs
        |WHERE greatest(CAST(inter AS DOUBLE) / n_a,
        |    CAST(inter AS DOUBLE) / n_b) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // Prefix-filter Jaccard mirror: ALL-PAIRS recompute over the same
    // fixture — deliberately ignorant of the prefix-filter candidate
    // pass, so a hash match certifies zero candidate false negatives.
    "d_jaccard_prefix_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 3000000, text || ' zq' FROM documents
        |  WHERE doc_id < 20),
        |t AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(
        |    trim(lower(text)), '\s+'), x -> length(x) > 0)) AS toks FROM d),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
        |    CAST(len(a.toks) AS BIGINT) AS n_a,
        |    CAST(len(b.toks) AS BIGINT) AS n_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, inter, n_a + n_b - inter AS uni, n_a, n_b,
        |  CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE)
        |    AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE)
        |  >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // Edit-distance-1 mirror: ALL-PAIRS levenshtein over the same
    // fixture (base part names + planted substitution/insertion/deletion
    // variants, same substr arithmetic) after the same distinct-string
    // min-id collapse — deliberately ignorant of the deletion-
    // neighborhood candidate pass, so a hash match certifies zero
    // candidate false negatives at this fixture.
    "d_edit1_pairs" ->
      """WITH base AS (
        |  SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey <= 300),
        |d AS (
        |  SELECT id, s FROM base
        |  UNION ALL
        |  SELECT id + 1000000,
        |    substr(s, 1, 2) || 'q' || substr(s, 4) FROM base
        |  UNION ALL
        |  SELECT id + 2000000, 'q' || s FROM base
        |  UNION ALL
        |  SELECT id + 3000000, substr(s, 2) FROM base),
        |r AS (SELECT s, min(id) AS id FROM d GROUP BY s)
        |SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM r a JOIN r b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // Jaro-Winkler mirror: same fixture, same (first byte, floored
    // octet-length bucket) blocking, scored with DuckDB's OWN
    // jaro_similarity / jaro_winkler_similarity — a hash match
    // certifies the native graft_jaro(_winkler) kernels bit-identical
    // to DuckDB's on every candidate pair, float columns included.
    "d_jaro_winkler_pairs" ->
      """WITH base AS (
        |  SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey <= 200),
        |d AS (
        |  SELECT id, s FROM base
        |  UNION ALL
        |  SELECT id + 1000000,
        |    substr(s, 1, 3) || substr(s, 5, 1) || substr(s, 4, 1) ||
        |      substr(s, 6) FROM base
        |  UNION ALL
        |  SELECT id + 2000000,
        |    substr(s, 1, 4) || 'q' || substr(s, 6) FROM base),
        |r AS (SELECT s, min(id) AS id FROM d GROUP BY s),
        |blk AS (SELECT id, s,
        |    substr(s, 1, 1) ||
        |      CAST(CAST(floor(strlen(s) / 4) AS BIGINT) AS VARCHAR)
        |      AS bk
        |  FROM r)
        |SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |  jaro_similarity(a.s, b.s) AS jaro,
        |  jaro_winkler_similarity(a.s, b.s) AS jw
        |FROM blk a JOIN blk b ON a.bk = b.bk AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // Duplicate-span mirror: full recompute — tokenize, hash every
    // 5-shingle, count corpus frequencies, then the same gaps-and-islands
    // (pos − row_number) grouping per document.
    "d_remove_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |    md5(array_to_string(tk[u.i + 1 : u.i + 5], ' ')) AS h
        |  FROM toks, UNNEST(range(0, greatest(len(tk) - 4, 0))) AS u(i)),
        |marked AS (
        |  SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
        |    COUNT(*) OVER (PARTITION BY h) AS c
        |  FROM sh),
        |removable AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM marked WHERE c >= 2 AND rn > 1),
        |spans AS (
        |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
        |  FROM removable GROUP BY doc_id, grp HAVING COUNT(*) >= 3),
        |prot AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM marked WHERE c >= 2 AND rn = 1),
        |pspans AS (
        |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
        |  FROM prot GROUP BY doc_id, grp),
        |posx AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos, tk[u.i + 1] AS tok
        |  FROM toks, UNNEST(range(0, len(tk))) AS u(i)),
        |kept AS (
        |  SELECT p.doc_id, p.pos, p.tok FROM posx p
        |  WHERE NOT (EXISTS (SELECT 1 FROM spans s
        |      WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)
        |    AND NOT EXISTS (SELECT 1 FROM pspans q
        |      WHERE q.doc_id = p.doc_id AND p.pos BETWEEN q.s AND q.e)))
        |SELECT t.doc_id, len(t.tk) AS n_tokens,
        |  len(t.tk) - COUNT(k.pos) AS n_removed,
        |  COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
        |FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
        |GROUP BY t.doc_id, len(t.tk)
        |ORDER BY t.doc_id""".stripMargin,
    "d_max_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |    md5(array_to_string(tk[u.i + 1 : u.i + 5], ' ')) AS h
        |  FROM toks, UNNEST(range(0, greatest(len(tk) - 4, 0))) AS u(i)),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
        |hot AS (SELECT doc_id, pos, h FROM sh
        |  WHERE h IN (SELECT h FROM dup)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.pos AS pos_a, b.pos AS pos_b
        |  FROM hot a JOIN hot b ON a.h = b.h AND a.doc_id < b.doc_id),
        |g AS (SELECT id_a, id_b, pos_a, pos_b,
        |    pos_a - ROW_NUMBER() OVER (
        |      PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
        |  FROM p)
        |SELECT id_a, id_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
        |  COUNT(*) AS n_shingles, COUNT(*) + 4 AS span_len
        |FROM g GROUP BY id_a, id_b, pos_a - pos_b, grp
        |HAVING COUNT(*) >= 3
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "d_duplicate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |    md5(array_to_string(tk[u.i + 1 : u.i + 5], ' ')) AS h
        |  FROM toks, UNNEST(range(0, greatest(len(tk) - 4, 0))) AS u(i)),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
        |hits AS (
        |  SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM sh WHERE h IN (SELECT h FROM dup))
        |SELECT doc_id, MIN(pos) AS span_start,
        |  MAX(pos) + 4 AS span_end, COUNT(*) AS n_shingles
        |FROM hits GROUP BY doc_id, pos - rn
        |HAVING COUNT(*) >= 3
        |ORDER BY doc_id, span_start""".stripMargin,
    "d_shingle_jaccard_twin" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM d WHERE doc_id % 1000000 < 30),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' ')))
        |    END AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY 1, 2""".stripMargin,
    // Full MinHash-LSH mirror under the Md5Minhash family (one md5 per
    // shingle + Kirsch–Mitzenmacher seeded minima — see minhashSqlCtes)
    // ending in the exact-Jaccard verification join.
    // Fuzzy-decontamination mirror: the SAME banded Md5Minhash pipeline
    // over a numeric-id union (bench rows at +5,000,000), pairs filtered
    // to cross-corpus, flagged train ids aggregated. The Spark side uses
    // string-tagged internal ids — equality proves the flags are
    // id-representation-independent.
    "t_fuzzy_decontaminate" ->
      (s"""WITH dd AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 5000000, replace(text, 'batch', 'shifted')
          |  FROM documents WHERE doc_id < 15),
          |""".stripMargin + minhashSqlCtes("dd") +
        """,
          |verified AS (SELECT id_a, id_b,
          |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
          |      AS jaccard
          |  FROM cand JOIN sh sa ON sa.doc_id = id_a
          |  JOIN sh sb ON sb.doc_id = id_b),
          |hits AS (SELECT CASE WHEN id_a < 5000000 THEN id_a ELSE id_b END
          |      AS doc_id, jaccard
          |  FROM verified
          |  WHERE jaccard >= 0.5 AND ((id_a < 5000000) <> (id_b < 5000000)))
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
          |  MAX(jaccard) AS max_jaccard
          |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin),
    "d_minhash_neardups" ->
      (s"""WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text || ' appended' FROM documents),
          |""".stripMargin + minhashSqlCtes("d") +
        """
          |SELECT id_a, id_b,
          |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          |FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
          |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
          |ORDER BY 1, 2""".stripMargin),
    "d_simhash_neardups" -> simhashOracleSql,
    "t_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |           i -> array_to_string(toks[i:i+7], ' ')))
        |    END) AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT sh FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_hits
        |FROM g JOIN b ON g.sh = b.sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_url_domains" ->
      """WITH a AS (SELECT doc_id,
        |    text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |      || ' or http://ref' || CAST(doc_id % 3 AS VARCHAR) || '.net' AS aug
        |  FROM documents WHERE doc_id < 200),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(aug,
        |    'https?://[A-Za-z0-9.-]+(/[^\s]*)?', 0)) AS url FROM a)
        |SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
        |  COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact greedy-packing replay: the recursive CTE walks the id-ordered
    // docs one row per step, carrying (bin, acc) — the same state machine
    // packSequences runs inside each partition.
    "t_seq_packing" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    length(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> length(x) > 0)) AS n_tokens
        |  FROM documents WHERE doc_id < 200),
        |o AS (SELECT doc_id, n_tokens, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM t),
        |r AS (
        |  SELECT rn, 0 AS bin, n_tokens AS acc FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn,
        |    CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > 256 THEN r.bin + 1 ELSE r.bin END,
        |    CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > 256 THEN o.n_tokens
        |         ELSE r.acc + o.n_tokens END
        |  FROM r JOIN o ON o.rn = r.rn + 1)
        |SELECT CAST(r.bin AS INTEGER) AS pack_idx, COUNT(*) AS n_docs,
        |  CAST(SUM(o.n_tokens) AS BIGINT) AS total_tokens
        |FROM r JOIN o ON o.rn = r.rn
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_mixture_sample" ->
      """WITH k AS (SELECT doc_id, source FROM documents
        |  WHERE CASE WHEN source = 'src0' THEN FALSE
        |    WHEN source = 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |    WHEN source = 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |    WHEN source = 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
        |    ELSE TRUE END)
        |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS first_id
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // Full boilerplate-removal mirror: same line split, same md5 line
    // hash, distinct-doc df over non-blank lines, NOT IN the ≥3-df set,
    // reassembly in original line order, md5 of the rebuilt text.
    "t_boilerplate_lines" ->
      """WITH base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'shared cookie banner' || chr(10)
        |      || text || chr(10) || 'shared footer line' ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base),
        |ln AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM t),
        |lines AS (SELECT doc_id, pos, ls[pos] AS line FROM ln),
        |boiler AS (SELECT lh FROM (
        |    SELECT md5(line) AS lh, doc_id FROM lines
        |    WHERE length(trim(line)) > 0 GROUP BY 1, 2)
        |  GROUP BY lh HAVING COUNT(*) >= 3),
        |keep AS (SELECT doc_id, pos, line FROM lines
        |  WHERE md5(line) NOT IN (SELECT lh FROM boiler)),
        |out AS (SELECT b.doc_id,
        |    COALESCE(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text
        |  FROM base b LEFT JOIN keep k USING (doc_id) GROUP BY 1)
        |SELECT doc_id, md5(text) AS text_md5 FROM out ORDER BY 1""".stripMargin,
    // Exact member-set mirror of Curation.stratifiedSample: same md5
    // hash order (tie-broken by id), same 1-based rank.
    "t_stratified_sample" ->
      """WITH r AS (SELECT source, doc_id, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sampled_rank
        |  FROM documents)
        |SELECT source, sampled_rank, doc_id FROM r
        |WHERE sampled_rank <= 25 ORDER BY 1, 2""".stripMargin,
    // Weighted-sample mirror: u = (hex15(md5(id)) + 1) / 2^60 then
    // priority = u / n_chars — the same two correctly-rounded IEEE
    // divisions as Curation.weightedPrioritySample, so the double
    // priorities (and hence the per-stratum top-5) agree bit-for-bit.
    // Poisson-bootstrap mirror: same md5-uniforms, same literal CDF
    // thresholds, exact BIGINT replicate sums, same order-statistic
    // indices and sorted-mean folds (0-seed folds == first-element
    // seeds because 0.0 + x == x).
    "a_poisson_bootstrap" ->
      (s"""WITH pu AS (SELECT lang, CAST(doc_id AS VARCHAR) AS u,
          |    CAST(SUM(CASE WHEN n_chars IS NOT NULL
          |      THEN CAST(floor(CAST(n_chars AS DOUBLE)
          |        * CAST(1 AS DOUBLE)) AS BIGINT)
          |      ELSE 0 END) AS BIGINT) AS qv
          |  FROM documents WHERE doc_id IS NOT NULL GROUP BY 1, 2),
          |fl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_units,
          |    CAST(SUM(qv) AS BIGINT) AS sv FROM pu GROUP BY 1),
          |rr AS (SELECT lang, u, qv, rep FROM pu
          |  CROSS JOIN range(100) r(rep)),
          |hh AS (SELECT lang, qv, rep,
          |    md5(u || ':' || CAST(rep AS VARCHAR)) AS hx FROM rr),
          |uv AS (SELECT lang, qv, rep,
          |    CAST(${hex15ToLong(1)} + 1 AS DOUBLE)
          |      / CAST(1152921504606846976 AS DOUBLE) AS un FROM hh),
          |ww AS (SELECT lang, qv, rep,
          |    CASE WHEN un <= CAST(0.36787944117144233 AS DOUBLE) THEN 0
          |      WHEN un <= CAST(0.7357588823428846 AS DOUBLE) THEN 1
          |      WHEN un <= CAST(0.9196986029286058 AS DOUBLE) THEN 2
          |      WHEN un <= CAST(0.9810118431238462 AS DOUBLE) THEN 3
          |      WHEN un <= CAST(0.9963401531726563 AS DOUBLE) THEN 4
          |      WHEN un <= CAST(0.9994058151824183 AS DOUBLE) THEN 5
          |      WHEN un <= CAST(0.9999167588507120 AS DOUBLE) THEN 6
          |      WHEN un <= CAST(0.9999897508033253 AS DOUBLE) THEN 7
          |      ELSE 8 END AS w FROM uv),
          |mr AS (SELECT lang, rep, CAST(SUM(w) AS BIGINT) AS nw,
          |    CAST(SUM(w * qv) AS BIGINT) AS sw FROM ww GROUP BY 1, 2),
          |mm AS (SELECT lang, CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
          |      / CAST(1 AS DOUBLE) AS mean_r
          |  FROM mr WHERE nw > 0),
          |ms AS (SELECT lang, list_sort(list(mean_r)) AS l
          |  FROM mm GROUP BY 1),
          |mb AS (SELECT lang, l,
          |    list_reduce(l, (a, b) -> a + b)
          |      / CAST(len(l) AS DOUBLE) AS mbar FROM ms),
          |sb AS (SELECT lang, l, mbar,
          |    list_reduce(list_transform(l,
          |      x -> (x - mbar) * (x - mbar)), (a, b) -> a + b) AS ss
          |  FROM mb)
          |SELECT fl.lang, fl.n_units,
          |  CAST(fl.sv AS DOUBLE) / CAST(fl.n_units AS DOUBLE)
          |    / CAST(1 AS DOUBLE) AS mean,
          |  l[least(3, len(l))] AS ci_lo,
          |  l[least(97, len(l))] AS ci_hi,
          |  CASE WHEN len(l) > 1 THEN sqrt(ss
          |    / (CAST(len(l) AS DOUBLE) - CAST(1 AS DOUBLE))) END
          |    AS se_boot
          |FROM sb JOIN fl ON fl.lang = sb.lang
          |ORDER BY fl.lang""".stripMargin),
    "t_weighted_sample" ->
      (s"""WITH h AS (SELECT lang, doc_id, n_chars,
          |    md5(CAST(doc_id AS VARCHAR)) AS hx
          |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
          |p AS (SELECT lang, doc_id, n_chars,
          |    (CAST(${hex15ToLong(1)} + 1 AS DOUBLE)
          |       / CAST(1152921504606846976 AS DOUBLE))
          |      / CAST(n_chars AS DOUBLE) AS pri FROM h),
          |r AS (SELECT lang, doc_id, n_chars, CAST(ROW_NUMBER() OVER (
          |    PARTITION BY lang ORDER BY pri, doc_id) AS INT) AS sampled_rank
          |  FROM p)
          |SELECT lang, sampled_rank, doc_id, n_chars FROM r
          |WHERE sampled_rank <= 5 ORDER BY 1, 2""".stripMargin),
    // compactState mirror: same raw-corpus construction, signature via
    // the shared minhash CTEs, survivors = min doc_id per identical
    // signature list.
    "d_state_compaction" ->
      (s"""WITH dd AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id < 100
          |  UNION ALL
          |  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 40
          |  UNION ALL
          |  SELECT doc_id + 2000, text FROM documents WHERE doc_id < 15),
          |""".stripMargin + minhashSqlCtes("dd") +
        """
          |SELECT doc_id FROM (
          |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY sig) AS k FROM sig)
          |WHERE doc_id = k ORDER BY 1""".stripMargin),
    // Full dedupCorpus mirror (Md5Minhash): exact survivors by text →
    // portable minhash-LSH pairs → recursive-CTE min-label connected
    // components → drop non-canonical members. Matches Dedup.dedupCorpus
    // stage for stage.
    "d_dedup_corpus" ->
      (s"""WITH RECURSIVE d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text || ' appended' FROM documents),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY text),
          |dd AS (SELECT d.doc_id, d.text FROM d JOIN ex ON d.doc_id = ex.doc_id),
          |""".stripMargin + minhashSqlCtes("dd") +
        """,
          |pairs AS (SELECT id_a, id_b
          |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
          |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
          |edges AS (SELECT id_a, id_b FROM pairs
          |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
          |r2(id, label) AS (
          |  SELECT DISTINCT id_a AS id, id_a AS label FROM edges
          |  UNION
          |  SELECT e.id_a AS id, r2.label FROM edges e JOIN r2 ON r2.id = e.id_b),
          |lab AS (SELECT id, MIN(label) AS label FROM r2 GROUP BY 1),
          |dropped AS (SELECT id FROM lab WHERE id <> label)
          |SELECT dd.doc_id AS id FROM dd
          |WHERE dd.doc_id NOT IN (SELECT id FROM dropped)
          |ORDER BY 1""".stripMargin),
    "d_hamming_twin" ->
      """SELECT doc_id,
        |  CAST(bit_count(xor(doc_id * 1315423911, doc_id * 2654435761 + 98765))
        |    AS INTEGER) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY 1""".stripMargin,
    "t_rolling_fingerprint" ->
      """WITH n AS (SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |f AS (SELECT doc_id, source,
        |    list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
        |      i -> md5(substr(t, CAST(i AS INTEGER), 8)))) AS fingerprint
        |  FROM n)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT fingerprint) AS distinct_fp
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_rolling_fp_md5_twin" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
        |    i -> md5(substr(t, CAST(i AS INTEGER), 8)))) AS fingerprint
        |FROM n ORDER BY 1""".stripMargin,
    "t_repetition_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 80),
        |l AS (SELECT doc_id, len(toks) AS n_tokens,
        |    string_split(text, chr(10)) AS lines, toks FROM t),
        |g AS (SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks)),
        |           i -> array_to_string(toks[i:i+1], ' '))
        |    END) AS gram FROM l),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |m AS (SELECT doc_id, MAX(cnt) AS top_ngram_count FROM c GROUP BY 1)
        |SELECT l.doc_id, CAST(l.n_tokens AS INTEGER) AS n_tokens,
        |  CAST(m.top_ngram_count AS BIGINT) AS top_ngram_count,
        |  least(1.0, CAST(m.top_ngram_count * 2 AS DOUBLE) / greatest(l.n_tokens, 1))
        |    AS top_ngram_fraction,
        |  CAST(len(lines) AS INTEGER) AS n_lines,
        |  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |    / greatest(len(lines), 1) AS dup_line_fraction
        |FROM l JOIN m ON l.doc_id = m.doc_id
        |ORDER BY 1""".stripMargin,
    "t_pii_redaction" ->
      """WITH a AS (SELECT doc_id,
        |    text || ' contact' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or +1 (555) 010-1234' AS aug
        |  FROM documents WHERE doc_id < 80)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug,
        |    '\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}',
        |    '<PHONE>', 'g')) AS redacted_md5
        |FROM a ORDER BY 1""".stripMargin,
    "d_dup_windows" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM d WHERE doc_id % 1000000 < 100),
        |w AS (SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 16 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 14),
        |           i -> array_to_string(toks[i:i+15], ' '))
        |    END) AS win FROM t)
        |SELECT md5(win) AS window_md5,
        |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        |FROM w GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY 1""".stripMargin,
    "t_hash_split" ->
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, COUNT(*) AS n, MIN(doc_id) AS first_id
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_chunking" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 40),
        |n AS (SELECT doc_id, toks,
        |    greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INTEGER)) AS n_chunks
        |  FROM t),
        |c AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS ci FROM n),
        |s AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |    toks[(ci*24 + 1):(ci*24 + 32)] AS chunk FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM s ORDER BY 1, 2""".stripMargin,
    "d_token_jaccard_pairs" ->
      """WITH s AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 60)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) >= 0.5
        |ORDER BY 1, 2""".stripMargin,
    "d_dup_clusters" ->
      """WITH RECURSIVE s AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 60),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |walk(node, r) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT e.b, walk.r FROM walk JOIN e ON e.a = walk.node)
        |SELECT node AS doc_id, MIN(r) AS cluster FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Best-per-cluster mirror: same exact-Jaccard pair graph and
    // recursive-CTE components as d_cluster_survivors, survivor =
    // arg-max by (n_chars DESC, doc_id) per cluster.
    "d_cluster_best" ->
      """WITH RECURSIVE s AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 60),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |walk(node, r) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT e.b, walk.r FROM walk JOIN e ON e.a = walk.node),
        |cc AS (SELECT node, MIN(r) AS cluster FROM walk GROUP BY 1),
        |scored AS (SELECT cc.cluster, cc.node, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY cc.cluster
        |      ORDER BY d.n_chars DESC, cc.node) AS rk
        |  FROM cc JOIN documents d ON d.doc_id = cc.node)
        |SELECT cluster, node AS best_doc, n_chars
        |FROM scored WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "d_cluster_survivors" ->
      """WITH RECURSIVE s AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 60),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |walk(node, r) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT e.b, walk.r FROM walk JOIN e ON e.a = walk.node),
        |cc AS (SELECT node, MIN(r) AS cluster FROM walk GROUP BY 1)
        |SELECT cluster AS doc_id, COUNT(*) AS n_members FROM cc
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_incremental_dedup" ->
      """WITH RECURSIVE
        |stated AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |freshd AS (SELECT doc_id, text FROM documents WHERE doc_id >= 30 AND doc_id < 60),
        |batchd AS (
        |  SELECT doc_id, text FROM freshd
        |  UNION ALL SELECT doc_id + 2000, text || ' appended' FROM stated WHERE doc_id < 10
        |  UNION ALL SELECT doc_id + 3000, text FROM stated WHERE doc_id < 5
        |  UNION ALL SELECT doc_id + 4000, text || ' zz' FROM freshd WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 5000, text FROM freshd WHERE doc_id < 35),
        |ex AS (SELECT MIN(doc_id) AS doc_id FROM batchd GROUP BY text),
        |b2 AS (SELECT bd.doc_id, bd.text FROM batchd bd JOIN ex ON bd.doc_id = ex.doc_id
        |  WHERE bd.text NOT IN (SELECT text FROM stated)),
        |allside AS (SELECT 'b' AS side, doc_id, text FROM b2
        |  UNION ALL SELECT 's', doc_id, text FROM stated),
        |t AS (SELECT side, doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'),
        |      x -> length(x) > 0) AS toks
        |  FROM allside),
        |sh AS (SELECT side, doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> array_to_string(toks[i:i+2], ' ')))
        |    END AS sh
        |  FROM t),
        |p AS (SELECT side, doc_id, unnest(sh) AS s FROM sh),
        |p2 AS (SELECT side, doc_id, CAST(list_sum(list_transform(range(1, 16), j -> CAST(strpos('0123456789abcdef', substr(hx, CAST(j AS INTEGER) + 0, 1)) - 1 AS BIGINT) << (4 * (15 - CAST(j AS INTEGER))))) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(1, 16), j -> CAST(strpos('0123456789abcdef', substr(hx, CAST(j AS INTEGER) + 15, 1)) - 1 AS BIGINT) << (4 * (15 - CAST(j AS INTEGER))))) AS BIGINT) % (CAST(1 AS BIGINT) << 55) AS h2
        |  FROM (SELECT side, doc_id, md5(s) AS hx FROM p)),
        |m AS (SELECT side, doc_id, h,
        |    MIN((h1 + h * h2) & ((CAST(1 AS BIGINT) << 60) - 1)) AS mh
        |  FROM p2 CROSS JOIN range(24) r(h) GROUP BY 1, 2, 3),
        |sig AS (SELECT side, doc_id, list(mh ORDER BY h) AS sig FROM m GROUP BY 1, 2),
        |bkb AS (SELECT doc_id, b,
        |    md5(array_to_string(sig[(b*3 + 1):(b*3 + 3)], ',')) AS bucket
        |  FROM sig CROSS JOIN range(8) rb(b) WHERE side = 'b'),
        |cappedb AS (SELECT doc_id, b, bucket FROM (
        |    SELECT doc_id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
        |    FROM bkb) WHERE n <= 200),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM cappedb a JOIN cappedb c
        |    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id),
        |pairs AS (SELECT id_a, id_b
        |  FROM cand JOIN sh sa ON sa.side = 'b' AND sa.doc_id = id_a
        |    JOIN sh sb ON sb.side = 'b' AND sb.doc_id = id_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
        |edges AS (SELECT id_a, id_b FROM pairs
        |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |r2(id, label) AS (
        |  SELECT DISTINCT id_a AS id, id_a AS label FROM edges
        |  UNION
        |  SELECT e.id_a AS id, r2.label FROM edges e JOIN r2 ON r2.id = e.id_b),
        |dropped AS (SELECT id FROM
        |  (SELECT id, MIN(label) AS label FROM r2 GROUP BY 1) WHERE id <> label),
        |b3 AS (SELECT doc_id FROM b2
        |  WHERE doc_id NOT IN (SELECT id FROM dropped)),
        |bk3 AS (SELECT g.doc_id, rb.b,
        |    md5(array_to_string(g.sig[(rb.b*3 + 1):(rb.b*3 + 3)], ',')) AS bucket
        |  FROM sig g JOIN b3 ON g.doc_id = b3.doc_id CROSS JOIN range(8) rb(b)
        |  WHERE g.side = 'b'),
        |capped3 AS (SELECT doc_id, b, bucket FROM (
        |    SELECT doc_id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
        |    FROM bk3) WHERE n <= 200),
        |bks AS (SELECT doc_id, b,
        |    md5(array_to_string(sig[(b*3 + 1):(b*3 + 3)], ',')) AS bucket
        |  FROM sig CROSS JOIN range(8) rb(b) WHERE side = 's'),
        |cappeds AS (SELECT doc_id, b, bucket FROM (
        |    SELECT doc_id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n
        |    FROM bks) WHERE n <= 200),
        |crossdrop AS (SELECT DISTINCT k.doc_id
        |  FROM capped3 k JOIN cappeds s2 ON k.b = s2.b AND k.bucket = s2.bucket
        |  JOIN sig nb ON nb.side = 'b' AND nb.doc_id = k.doc_id
        |  JOIN sig os ON os.side = 's' AND os.doc_id = s2.doc_id
        |  WHERE CAST(list_sum(list_transform(range(1, 25),
        |      i -> CASE WHEN nb.sig[CAST(i AS INTEGER)] = os.sig[CAST(i AS INTEGER)]
        |           THEN 1 ELSE 0 END)) AS DOUBLE) / 24.0 >= 0.5)
        |SELECT doc_id FROM b3
        |WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop)
        |ORDER BY 1""".stripMargin,
    "m_binary_meta" ->
      """SELECT source, COUNT(*) AS n_items,
        |  COUNT(DISTINCT sha256(text)) AS distinct_sha,
        |  CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // The oracle never sees the WARC files: it aggregates the source
    // table directly, so a match proves the container round-trip is
    // lossless and exactly-once under 64 KiB splits.
    "m_warc_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Mirror of the multimodal feature-extract flow: same synthetic
    // MediaItem derivation (n_frames from doc_id), same evenly-spaced
    // frame sampling (integer div), same md5-derived 12-bit stub features
    // (exact in Float and Double, so sums compare bit-for-bit).
    "m_frame_features" ->
      """WITH it AS (SELECT doc_id AS media_id, text, (doc_id % 24) + 1 AS n_frames
        |  FROM documents),
        |fr AS (SELECT media_id, text, unnest(
        |    CASE WHEN n_frames <= 4 THEN range(0, n_frames)
        |         ELSE list_transform(range(0, 4), i -> i * n_frames // 4)
        |    END) AS frame_idx
        |  FROM it),
        |fx AS (SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |    md5(md5(text) || ':' || frame_idx || ':' || f.i) AS hx
        |  FROM fr CROSS JOIN range(16) f(i)),
        |fe AS (SELECT media_id, frame_idx,
        |    SUM(CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) AS DOUBLE) / 4096.0)
        |      AS fsum
        |  FROM fx GROUP BY 1, 2)
        |SELECT frame_idx, COUNT(*) AS n_frames, SUM(fsum) AS feature_mass
        |FROM fe GROUP BY 1 ORDER BY 1""".stripMargin,
    // The Spark side encodes a real PNG per id and decodes it with
    // javax.imageio; the oracle knows the pixel formula and sums it
    // directly — lossless PNG makes the two bit-identical.
    "m_png_pixel_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 20),
        |px AS (SELECT media_id, xs.x, ys.y FROM ids
        |  CROSS JOIN (SELECT unnest([0, 1]) AS x) xs
        |  CROSS JOIN (SELECT unnest([0, 1]) AS y) ys)
        |SELECT media_id, 2 AS width, 2 AS height,
        |  CAST(SUM((media_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((media_id * 17 + x * 5 + y * 3) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((media_id * 7 + x * 11 + y * 19) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,
    // dHash mirror: pixel formula → integer luminance → comparison bits →
    // HUGEINT hash assembly wrapped to signed 64 → 16-bit bands → Hamming.
    // Every arithmetic step integer-exact; bit 63 forces the HUGEINT
    // detour (BIGINT << 63 overflows in DuckDB).
    "m_dhash_neardups" ->
      s"""WITH imgs AS (
        |  SELECT doc_id AS id, doc_id AS src, FALSE AS bump
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 1000, doc_id, FALSE FROM documents WHERE doc_id < 12
        |  UNION ALL
        |  SELECT doc_id + 2000, doc_id, TRUE FROM documents WHERE doc_id < 6),
        |px AS (SELECT id,
        |    x, y,
        |    CASE WHEN bump AND x = 4 AND y = 3
        |         THEN ((src * 31 + x * 7 + y * 13) % 256 + 16) % 256
        |         ELSE (src * 31 + x * 7 + y * 13) % 256 END AS r,
        |    (src * 17 + x * 5 + y * 3) % 256 AS g,
        |    (src * 7 + x * 11 + y * 19) % 256 AS b
        |  FROM imgs CROSS JOIN range(9) xs(x) CROSS JOIN range(8) ys(y)),
        |gr AS (SELECT id, x, y,
        |    (r * 299 + g * 587 + b * 114) // 1000 AS gray FROM px),
        |bits AS (SELECT g1.id, g1.y * 8 + g1.x AS idx,
        |    CASE WHEN g2.gray > g1.gray THEN 1 ELSE 0 END AS bit
        |  FROM gr g1 JOIN gr g2
        |    ON g2.id = g1.id AND g2.y = g1.y AND g2.x = g1.x + 1
        |  WHERE g1.x < 8),
        |hh AS (SELECT id, SUM(CAST(bit AS HUGEINT) *
        |      (CAST(1 AS HUGEINT) << CAST(idx AS INTEGER))) AS h
        |  FROM bits GROUP BY 1),
        |sig AS (SELECT id, CAST(h - CASE
        |      WHEN h >= (CAST(1 AS HUGEINT) << 63)
        |      THEN (CAST(1 AS HUGEINT) << 64) ELSE CAST(0 AS HUGEINT) END
        |    AS BIGINT) AS simhash FROM hh),
        |${hashNearDupPairsSql(6)}""".stripMargin,
    // pHash mirror: pixels → luma → exact BIGINT DCT via the SAME
    // interpolated fixed-point table (no cosine evaluated here) →
    // 32nd-smallest median threshold → 63-bit pack (no HUGEINT dance:
    // bit 62 max keeps the sum positive) → bands → Hamming.
    "m_phash_neardups" -> phashOracle,
    // Audio fingerprint mirror: replay sample formula → 65 floor-indexed
    // energy windows → delta bits → HUGEINT pack → band buckets →
    // Hamming, all integer-exact (same CTE skeleton as m_dhash_neardups).
    "m_audio_fingerprint_neardups" ->
      s"""WITH aud AS (
        |  SELECT doc_id AS id, doc_id AS src, 1 AS mul, FALSE AS bump
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 1000, doc_id, 2, FALSE FROM documents WHERE doc_id < 12
        |  UNION ALL
        |  SELECT doc_id + 2000, doc_id, 1, TRUE FROM documents WHERE doc_id < 6),
        |sm AS (SELECT a.id, 130 + a.src AS n, i.i,
        |    ((a.src * 37 + i.i * 73) % 4001 - 2000) * a.mul
        |      + CASE WHEN a.bump AND i.i >= 10 AND i.i < 20
        |             THEN 300 ELSE 0 END AS s
        |  FROM aud a CROSS JOIN range(0, 170) i(i)
        |  WHERE i.i < 130 + a.src),
        |e AS (SELECT sm.id, w.w, CAST(SUM(abs(sm.s)) AS BIGINT) AS e
        |  FROM sm CROSS JOIN range(0, 65) w(w)
        |  WHERE sm.i >= (w.w * sm.n) // 65 AND sm.i < ((w.w + 1) * sm.n) // 65
        |  GROUP BY 1, 2),
        |bits AS (SELECT e1.id, e1.w AS idx,
        |    CASE WHEN e2.e > e1.e THEN 1 ELSE 0 END AS bit
        |  FROM e e1 JOIN e e2 ON e2.id = e1.id AND e2.w = e1.w + 1
        |  WHERE e1.w < 64),
        |hh AS (SELECT id, SUM(CAST(bit AS HUGEINT) *
        |      (CAST(1 AS HUGEINT) << CAST(idx AS INTEGER))) AS h
        |  FROM bits GROUP BY 1),
        |sig AS (SELECT id, CAST(h - CASE
        |      WHEN h >= (CAST(1 AS HUGEINT) << 63)
        |      THEN (CAST(1 AS HUGEINT) << 64) ELSE CAST(0 AS HUGEINT) END
        |    AS BIGINT) AS simhash FROM hh),
        |${hashNearDupPairsSql(6)}""".stripMargin,
    // JPEG mirror: constant-gray payloads are the exactly-round-tripping
    // class (see Multimodal.encodeJpeg), so the decoded sums are the pure
    // integer formula w·h·v per channel.
    "m_jpeg_pixel_stats" ->
      """SELECT doc_id AS media_id,
        |  CAST(3 + doc_id % 6 AS INTEGER) AS width,
        |  CAST(2 + doc_id % 5 AS INTEGER) AS height,
        |  CAST((3 + doc_id % 6) * (2 + doc_id % 5) * ((doc_id * 37 + 11) % 256) AS BIGINT) AS sum_r,
        |  CAST((3 + doc_id % 6) * (2 + doc_id % 5) * ((doc_id * 37 + 11) % 256) AS BIGINT) AS sum_g,
        |  CAST((3 + doc_id % 6) * (2 + doc_id % 5) * ((doc_id * 37 + 11) % 256) AS BIGINT) AS sum_b
        |FROM documents WHERE doc_id < 20 ORDER BY 1""".stripMargin,
    // Full resize mirror: fitDims' integer-ceil formula, then the
    // nearest-neighbor floor index math (sx = x*w // ow), then the same
    // pixel formula as m_png_pixel_stats — all exact integer arithmetic,
    // so a hash match proves the real decode→resize→re-encode chain.
    "m_resize_pixel_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id < 12),
        |dims AS (SELECT media_id, w, h,
        |    CASE WHEN greatest(w, h) <= 3 THEN w
        |         ELSE (w * 3 + greatest(w, h) - 1) // greatest(w, h) END AS ow,
        |    CASE WHEN greatest(w, h) <= 3 THEN h
        |         ELSE (h * 3 + greatest(w, h) - 1) // greatest(w, h) END AS oh
        |  FROM ids),
        |xs AS (SELECT media_id, w, h, ow, oh, unnest(range(0, ow)) AS x FROM dims),
        |px AS (SELECT media_id, w, h, ow, oh, x, unnest(range(0, oh)) AS y FROM xs),
        |sp AS (SELECT media_id, ow, oh,
        |    (x * w) // ow AS sx, (y * h) // oh AS sy FROM px)
        |SELECT media_id, CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(SUM((media_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((media_id * 17 + sx * 5 + sy * 3) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((media_id * 7 + sx * 11 + sy * 19) % 256) AS BIGINT) AS sum_b
        |FROM sp GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // Multi-frame mirror: frame count / dims / gray levels replayed
    // from the id formulas; three chained unnests build the
    // (frame, x, y) grid.
    "m_gif_frame_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id, 2 + doc_id % 3 AS n,
        |    4 + doc_id % 3 AS w, 5 + doc_id % 2 AS h
        |  FROM documents WHERE doc_id < 10),
        |fr AS (SELECT media_id, w, h, unnest(range(0, n)) AS f FROM ids),
        |fx AS (SELECT media_id, w, h, f, unnest(range(0, w)) AS x FROM fr),
        |px AS (SELECT media_id, w, h, f, x, unnest(range(0, h)) AS y FROM fx)
        |SELECT media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(SUM((media_id * 11 + f * 50 + x * 7 + y * 13) % 256) AS BIGINT)
        |    AS sum_gray
        |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin,
    "d_embedding_neardups" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |    FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.3
        |ORDER BY 1, 2""".stripMargin,
    // Discrete-quantile mirror: quantile_disc returns the same order
    // statistic approx_percentile converges to when accuracy ≥ n (proven
    // by this match); parallel unnests run in lockstep, pairing each
    // prob with its quantile.
    "a_quantile_profile" ->
      """WITH q AS (SELECT lang,
        |    quantile_disc(length(text), [0.0,0.25,0.5,0.75,0.95,1.0]) AS qs
        |  FROM documents GROUP BY 1)
        |SELECT lang,
        |  unnest(CAST([0.0,0.25,0.5,0.75,0.95,1.0] AS DOUBLE[])) AS prob,
        |  unnest(qs) AS len_q
        |FROM q ORDER BY 1, 2""".stripMargin,
    // SemDeDup mirror: seed centroids = the 8 lowest-vec_id embeddings
    // verbatim (the s_ann_ivf_top3 convention), assignment by the same
    // (-2·v·c + ||c||², ci) first-min rank, pairs only within a cluster,
    // duplicate components via the recursive min-label CTE, survivor =
    // min id per component (pair-less rows survive as themselves).
    "d_semantic_dedup" ->
      """WITH RECURSIVE
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |assign AS (SELECT vec_id, ci AS cluster FROM (
        |    SELECT v.vec_id, cn.ci, ROW_NUMBER() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY -2 * list_inner_product(v.e, cn.ce) + cn.n2, cn.ci) AS rn
        |    FROM v CROSS JOIN cn) WHERE rn = 1),
        |va AS (SELECT a.vec_id, a.cluster, v.e FROM assign a JOIN v USING (vec_id)),
        |pairs AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM va a JOIN va b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.e, b.e) >= 0.3),
        |edges AS (SELECT id_a, id_b FROM pairs
        |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |r2(id, label) AS (
        |  SELECT DISTINCT id_a AS id, id_a AS label FROM edges
        |  UNION
        |  SELECT e.id_a AS id, r2.label FROM edges e JOIN r2 ON r2.id = e.id_b),
        |lab AS (SELECT id, MIN(label) AS label FROM r2 GROUP BY 1),
        |dropped AS (SELECT id FROM lab WHERE id <> label)
        |SELECT CAST(a.cluster AS INTEGER) AS cluster,
        |  COUNT(*) AS n_rows,
        |  COALESCE(ANY_VALUE(p.n_dup_pairs), 0) AS n_dup_pairs,
        |  CAST(SUM(CASE WHEN a.vec_id IN (SELECT id FROM dropped)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_survivors
        |FROM assign a LEFT JOIN (SELECT cluster, CAST(COUNT(*) AS BIGINT)
        |    AS n_dup_pairs FROM pairs GROUP BY 1) p USING (cluster)
        |GROUP BY a.cluster ORDER BY 1""".stripMargin,
    // Same arithmetic, element for element: floats cast to double
    // exactly, one IEEE division, round-half-away-from-zero in both
    // engines, integer sums exact.
    "s_embedding_covariance" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, CAST(u.i AS INTEGER) AS i, v[u.i + 1] AS x
        |  FROM q, UNNEST(range(0, len(v))) AS u(i))
        |SELECT a.i, b.i AS j, COUNT(*) AS n,
        |  CAST(COUNT(*) * SUM(a.x * b.x) - SUM(a.x) * SUM(b.x)
        |    AS BIGINT) AS cov_num,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    CAST(CAST(COUNT(*) * SUM(a.x * b.x) - SUM(a.x) * SUM(b.x)
        |      AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE) END AS cov
        |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
        |WHERE a.x IS NOT NULL AND b.x IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s_quantize_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |    FROM embeddings WHERE vec_id < 100),
        |s AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) / 127 AS scale FROM v),
        |q AS (SELECT vec_id, scale,
        |    list_transform(e, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(round(x / scale) AS INTEGER) END) AS qs
        |  FROM s)
        |SELECT vec_id, scale, CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  CAST(list_max(qs) AS INTEGER) AS q_max
        |FROM q ORDER BY 1""".stripMargin,
    "s_ann_brute_top5" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |    FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT qid, b.vec_id AS nid,
        |    list_cosine_similarity(qe, CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM q CROSS JOIN embeddings b WHERE b.vec_id <> qid),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // MMR mirror: explicit dot/(n·n) cosines (same op order as the
    // Spark side, NOT list_cosine_similarity), top-50 prefetch, then
    // the greedy selection as a recursive CTE over list state — the
    // redundancy term is a list_max over zip-indexed selected vectors,
    // (1−λ) written as the SAME subtraction the Scala side evaluates.
    "s_mmr_top5" ->
      """WITH RECURSIVE qq AS (SELECT vec_id AS qid,
        |    CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |q2 AS (SELECT qid, qe,
        |    sqrt(list_inner_product(qe, qe)) AS qn FROM qq),
        |bb AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS be,
        |    sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS bn
        |  FROM embeddings),
        |scored AS (SELECT qid, nid, be, bn,
        |    CASE WHEN qn * bn = 0 THEN CAST(0 AS DOUBLE)
        |      ELSE list_inner_product(qe, be) / (qn * bn) END AS cos
        |  FROM q2 CROSS JOIN bb WHERE nid <> qid),
        |topn AS (SELECT qid, nid, be, bn, cos FROM (
        |    SELECT qid, nid, be, bn, cos, ROW_NUMBER() OVER (
        |      PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        |    FROM scored) WHERE rn <= 50),
        |cand AS (SELECT qid,
        |    list(struct_pack(nid := nid, cos := cos) ORDER BY nid) AS cs,
        |    list(struct_pack(vec := be, nrm := bn) ORDER BY nid) AS vs
        |  FROM topn GROUP BY 1),
        |mat AS (SELECT qid, cs,
        |    list_transform(vs, a -> list_transform(vs, b ->
        |      CASE WHEN a.nrm * b.nrm = 0 THEN CAST(0 AS DOUBLE)
        |        ELSE list_inner_product(a.vec, b.vec) / (a.nrm * b.nrm)
        |        END)) AS sm
        |  FROM cand),
        |sel(qid, i, ids, idxs) AS (
        |  SELECT qid, 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
        |  FROM mat
        |  UNION ALL
        |  SELECT qid, i + 1,
        |    list_append(ids, best.nid), list_append(idxs, best.ci)
        |  FROM (
        |    SELECT s.qid, s.i, s.ids, s.idxs,
        |      list_reduce(
        |        list_filter(
        |          list_transform(range(1, len(m.cs) + 1), ci -> CASE
        |            WHEN list_contains(s.ids,
        |              CAST(m.cs[ci].nid AS BIGINT)) THEN NULL
        |            ELSE struct_pack(
        |              score := CAST(0.7 AS DOUBLE) * m.cs[ci].cos -
        |                (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
        |                (CASE WHEN len(s.idxs) = 0 THEN CAST(0 AS DOUBLE)
        |                  ELSE list_max(list_transform(s.idxs,
        |                    sj -> m.sm[ci][sj])) END),
        |              nid := CAST(m.cs[ci].nid AS BIGINT), ci := ci)
        |            END),
        |          x -> x IS NOT NULL),
        |        (a, b) -> CASE WHEN b.score > a.score OR
        |          (b.score = a.score AND b.nid < a.nid) THEN b
        |          ELSE a END) AS best
        |    FROM sel s JOIN mat m ON m.qid = s.qid
        |    WHERE s.i < 5)
        |  WHERE best IS NOT NULL),
        |fin AS (SELECT qid, ids FROM sel
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY i DESC) = 1)
        |SELECT qid, CAST(r AS INTEGER) AS rank, ids[CAST(r AS INTEGER)] AS nid
        |FROM fin, unnest(range(1, len(ids) + 1)) AS t(r)
        |ORDER BY qid, rank""".stripMargin,
    "s_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
        |    label AS qlabel
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (SELECT qid, b.vec_id AS nid,
        |    list_cosine_similarity(qe, CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM q CROSS JOIN embeddings b
        |  WHERE b.vec_id <> qid AND b.label <> qlabel),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // Full LSH mirror: plane (i,d) = md5("plane:i:d") first-15-hex-digit
    // decode (BIGINT shift-sum; every 16^k is a power of two so the
    // power() casts are exact) scaled to [-1,1) by h/2^59-1 — identical
    // to Similarity.md5Planes. Signature = sign bits of sequential-order
    // inner products (same accumulation as graft_vector_dot); probes =
    // signature XOR the 11 depth-2 masks over 4 bits.
    "s_ann_lsh_top3" ->
      """WITH p AS (SELECT i, list_transform(range(0, 64), d ->
        |      CAST(list_sum(list_transform(range(1, 16), q ->
        |        (CAST(strpos('0123456789abcdef',
        |           substr(md5('plane:' || i || ':' || d), q, 1)) AS BIGINT) - 1)
        |        * CAST(power(16, 15 - q) AS BIGINT))) AS DOUBLE)
        |      / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(i)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT v.vec_id,
        |    CAST(SUM(CASE WHEN list_inner_product(v.e, p.w) >= 0
        |      THEN CAST(power(2, p.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM v CROSS JOIN p GROUP BY 1),
        |b AS (SELECT v.vec_id, v.e, s.bucket FROM v JOIN sig s USING (vec_id)),
        |qp AS (SELECT b.vec_id AS qid, b.e AS qe,
        |    xor(b.bucket, CAST(m.m AS BIGINT)) AS bucket
        |  FROM b CROSS JOIN (SELECT unnest([0,1,2,4,8,3,5,9,6,10,12]) AS m) m
        |  WHERE b.vec_id < 5),
        |scored AS (SELECT qp.qid, b.vec_id AS nid,
        |    list_cosine_similarity(qp.qe, b.e) AS cos
        |  FROM qp JOIN b ON b.bucket = qp.bucket AND b.vec_id <> qp.qid),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // IVF mirror: centroids are the 8 lowest-vec_id embeddings verbatim;
    // assignment/probing rank by (-2·v·c + ||c||², centroid index) with
    // first-min tie-breaking, exactly Similarity.nearestCentroid.
    // Fellegi-Sunter mirror: the same twin/next-twin labeled pairs,
    // per-field exact counts (null agreement excluded per field),
    // smoothed ratios exact, ln weights at 12dp.
    "t_linkage_weights" ->
      s"""WITH $linkagePairsCte,
         |fl AS (
         |  SELECT 'lang' AS field, is_match, f_lang AS agree FROM pairs
         |  UNION ALL SELECT 'len', is_match, f_len FROM pairs
         |  UNION ALL SELECT 'prefix', is_match, f_prefix FROM pairs
         |  UNION ALL SELECT 'source', is_match, f_source FROM pairs),
         |w AS (SELECT field,
         |    CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match,
         |    CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_nonmatch,
         |    CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
         |      AS BIGINT) AS agree_match,
         |    CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
         |      AS BIGINT) AS agree_nonmatch
         |  FROM fl WHERE agree IS NOT NULL GROUP BY 1),
         |w2 AS (SELECT field, n_match, n_nonmatch, agree_match,
         |    agree_nonmatch,
         |    CAST(agree_match + 1 AS DOUBLE)
         |      / CAST(n_match + 2 AS DOUBLE) AS m,
         |    CAST(agree_nonmatch + 1 AS DOUBLE)
         |      / CAST(n_nonmatch + 2 AS DOUBLE) AS u
         |  FROM w)
         |SELECT field, n_match, n_nonmatch, agree_match, agree_nonmatch,
         |  m, u, ROUND(ln(m / u), 12) AS w_agree,
         |  ROUND(ln((1.0 - m) / (1.0 - u)), 12) AS w_disagree
         |FROM w2 ORDER BY field""".stripMargin,
    // Scoring mirror: unrounded weights, fixed field-order sum
    // (lang + len + prefix + source — the sorted fold), 12dp score.
    "t_linkage_score" ->
      s"""WITH $linkagePairsCte,
         |fl AS (
         |  SELECT 'lang' AS field, is_match, f_lang AS agree FROM pairs
         |  UNION ALL SELECT 'len', is_match, f_len FROM pairs
         |  UNION ALL SELECT 'prefix', is_match, f_prefix FROM pairs
         |  UNION ALL SELECT 'source', is_match, f_source FROM pairs),
         |w AS (SELECT field,
         |    CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match,
         |    CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_nonmatch,
         |    CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
         |      AS BIGINT) AS agree_match,
         |    CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
         |      AS BIGINT) AS agree_nonmatch
         |  FROM fl WHERE agree IS NOT NULL GROUP BY 1),
         |w2 AS (SELECT field,
         |    CAST(agree_match + 1 AS DOUBLE)
         |      / CAST(n_match + 2 AS DOUBLE) AS m,
         |    CAST(agree_nonmatch + 1 AS DOUBLE)
         |      / CAST(n_nonmatch + 2 AS DOUBLE) AS u
         |  FROM w),
         |wp AS (SELECT
         |    MAX(CASE WHEN field = 'lang' THEN ln(m / u) END) AS wa_lang,
         |    MAX(CASE WHEN field = 'lang'
         |      THEN ln((1.0 - m) / (1.0 - u)) END) AS wd_lang,
         |    MAX(CASE WHEN field = 'len' THEN ln(m / u) END) AS wa_len,
         |    MAX(CASE WHEN field = 'len'
         |      THEN ln((1.0 - m) / (1.0 - u)) END) AS wd_len,
         |    MAX(CASE WHEN field = 'prefix' THEN ln(m / u) END)
         |      AS wa_prefix,
         |    MAX(CASE WHEN field = 'prefix'
         |      THEN ln((1.0 - m) / (1.0 - u)) END) AS wd_prefix,
         |    MAX(CASE WHEN field = 'source' THEN ln(m / u) END)
         |      AS wa_source,
         |    MAX(CASE WHEN field = 'source'
         |      THEN ln((1.0 - m) / (1.0 - u)) END) AS wd_source
         |  FROM w2)
         |SELECT p.id_a, p.id_b, CAST(4 AS BIGINT) AS n_fields,
         |  ROUND(
         |    (CASE WHEN p.f_lang IS NULL THEN 0.0
         |       WHEN p.f_lang THEN wp.wa_lang ELSE wp.wd_lang END)
         |    + (CASE WHEN p.f_len IS NULL THEN 0.0
         |       WHEN p.f_len THEN wp.wa_len ELSE wp.wd_len END)
         |    + (CASE WHEN p.f_prefix IS NULL THEN 0.0
         |       WHEN p.f_prefix THEN wp.wa_prefix ELSE wp.wd_prefix END)
         |    + (CASE WHEN p.f_source IS NULL THEN 0.0
         |       WHEN p.f_source THEN wp.wa_source ELSE wp.wd_source END),
         |    12) AS link_score
         |FROM pairs p CROSS JOIN wp
         |ORDER BY link_score DESC, p.id_a, p.id_b LIMIT 20"""
        .stripMargin,
    // EM mirror: generated chained-CTE replay of 3 fixed E/M steps —
    // see linkageEmOracle's doc for the float-op contract.
    "t_linkage_em" -> linkageEmOracle,
    "t_entity_resolution" -> entityResolutionOracle,
    // EXIF mirror: replays the planted tag VALUES as pure doc_id
    // arithmetic — the APP1/TIFF bytes in between are the real codec
    // under test (encode → byte-walk parse must be lossless). Corrupt
    // (≡0 mod 7) and EXIF-less (≡1 mod 7) ids contribute no rows.
    "m_exif_fields" ->
      """WITH ok AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 60 AND doc_id % 7 NOT IN (0, 1)),
        |rows_all AS (
        |  SELECT id, 'Make' AS tag,
        |    'Cam' || CAST(id % 5 AS VARCHAR) AS value FROM ok
        |  UNION ALL SELECT id, 'Model', 'M-' || CAST(id % 3 AS VARCHAR)
        |  FROM ok
        |  UNION ALL SELECT id, 'Orientation',
        |    CAST(id % 8 + 1 AS VARCHAR) FROM ok
        |  UNION ALL SELECT id, 'XResolution',
        |    CAST(72 + id % 4 AS VARCHAR) || '/1' FROM ok
        |  UNION ALL SELECT id, 'DateTime',
        |    '2023:01:' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
        |      || ' 10:00:00' FROM ok
        |  UNION ALL SELECT id, 'ExposureTime',
        |    '1/' || CAST(50 + id % 200 AS VARCHAR) FROM ok
        |  UNION ALL SELECT id, 'ISOSpeedRatings',
        |    CAST(100 + (id % 16) * 25 AS VARCHAR) FROM ok
        |  UNION ALL SELECT id, 'PixelXDimension',
        |    CAST(640 + id % 1024 AS VARCHAR) FROM ok
        |  UNION ALL SELECT id, 'GPSLatitudeRef',
        |    CASE WHEN id % 2 = 0 THEN 'N' ELSE 'S' END
        |  FROM ok WHERE id % 3 = 0)
        |SELECT id, tag, value FROM rows_all ORDER BY id, tag""".stripMargin,
    // Cluster-scatter mirror: the s_ann_ivf assignment CTEs, then each
    // point's own-centroid distance as the SAME fixed index-order
    // zip-fold + sqrt, floor-quantized at 1e9 — sums exact BIGINT, the
    // mean the identical two-op float tail. No rounding anywhere.
    "s_cluster_quality" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |dist AS (SELECT v.vec_id, v.e, cn.ci,
        |    -2 * list_inner_product(v.e, cn.ce) + cn.n2 AS d
        |  FROM v CROSS JOIN cn),
        |assign AS (SELECT vec_id, e, ci AS ivf_list FROM (
        |    SELECT vec_id, e, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT a.ivf_list,
        |    CAST(FLOOR(sqrt(list_reduce(list_transform(range(1, 65),
        |        k -> (a.e[CAST(k AS INTEGER)] - c.ce[CAST(k AS INTEGER)])
        |           * (a.e[CAST(k AS INTEGER)] - c.ce[CAST(k AS INTEGER)])),
        |      (x, y) -> x + y)) * 1000000000.0) AS BIGINT) AS q
        |  FROM assign a JOIN c ON c.ci = a.ivf_list)
        |SELECT ivf_list, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS qdist,
        |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS s
        |FROM qd GROUP BY 1 ORDER BY 1""".stripMargin,
    // Davies–Bouldin mirror: per-cluster s as above, centroid d_ij as
    // the same fixed index-order fold the DRIVER ran, worst-ratio max
    // per cluster, closing fold in fixed cluster order.
    "s_davies_bouldin" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |dist AS (SELECT v.vec_id, v.e, cn.ci,
        |    -2 * list_inner_product(v.e, cn.ce) + cn.n2 AS d
        |  FROM v CROSS JOIN cn),
        |assign AS (SELECT vec_id, e, ci AS ivf_list FROM (
        |    SELECT vec_id, e, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT a.ivf_list,
        |    CAST(FLOOR(sqrt(list_reduce(list_transform(range(1, 65),
        |        k -> (a.e[CAST(k AS INTEGER)] - c.ce[CAST(k AS INTEGER)])
        |           * (a.e[CAST(k AS INTEGER)] - c.ce[CAST(k AS INTEGER)])),
        |      (x, y) -> x + y)) * 1000000000.0) AS BIGINT) AS q
        |  FROM assign a JOIN c ON c.ci = a.ivf_list),
        |q AS (SELECT ivf_list AS ci,
        |    CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS s
        |  FROM qd GROUP BY 1),
        |dij AS (SELECT ca.ci AS i, cb.ci AS j,
        |    sqrt(list_reduce(list_transform(range(1, 65),
        |        k -> (ca.ce[CAST(k AS INTEGER)] - cb.ce[CAST(k AS INTEGER)])
        |           * (ca.ce[CAST(k AS INTEGER)] - cb.ce[CAST(k AS INTEGER)])),
        |      (x, y) -> x + y)) AS d
        |  FROM c ca JOIN c cb ON ca.ci <> cb.ci),
        |ratio AS (SELECT d.i,
        |    MAX(CASE WHEN d.d > 0 THEN (qa.s + qb.s) / d.d END) AS r,
        |    SUM(CASE WHEN d.d = 0 THEN 1 ELSE 0 END) AS deg
        |  FROM dij d JOIN q qa ON qa.ci = d.i JOIN q qb ON qb.ci = d.j
        |  GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k_clusters,
        |  CAST(SUM(deg) AS BIGINT) AS n_degenerate_pairs,
        |  CASE WHEN len(list_filter(list(r ORDER BY i),
        |      x -> x IS NOT NULL)) = 0 THEN NULL
        |    ELSE (0.0 + list_reduce(list_filter(list(r ORDER BY i),
        |      x -> x IS NOT NULL), (a, b) -> a + b))
        |    / CAST(len(list_filter(list(r ORDER BY i),
        |      x -> x IS NOT NULL)) AS DOUBLE) END AS db
        |FROM ratio""".stripMargin,
    "s_ann_ivf_top3" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |dist AS (SELECT v.vec_id, cn.ci,
        |    -2 * list_inner_product(v.e, cn.ce) + cn.n2 AS d
        |  FROM v CROSS JOIN cn),
        |assign AS (SELECT vec_id, ci AS ivf_list FROM (
        |    SELECT vec_id, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn FROM dist)
        |  WHERE rn = 1),
        |probe AS (SELECT vec_id AS qid, ci AS ivf_list FROM (
        |    SELECT vec_id, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn
        |    FROM dist WHERE vec_id < 5)
        |  WHERE rn <= 3),
        |scored AS (SELECT p.qid, a.vec_id AS nid,
        |    list_cosine_similarity(q.e, b.e) AS cos
        |  FROM probe p
        |  JOIN v q ON q.vec_id = p.qid
        |  JOIN assign a ON a.ivf_list = p.ivf_list AND a.vec_id <> p.qid
        |  JOIN v b ON b.vec_id = a.vec_id),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // PQ mirror: per-subspace codebooks = slices of the 8 lowest-vec_id
    // embeddings; encode = per-(vector, subspace) argmin of
    // (-2·v_s·c_s + ||c_s||², ci) — Similarity.nearestCentroid's first-min
    // tie-break; ADC = per-subspace table dots summed in subspace order
    // (list(... ORDER BY s) → list_sum = the same left-to-right tree as
    // the Spark reduce); cosine = adc / (||q||·||x||), self excluded.
    "s_ann_pq_top3" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |seed AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |sub AS (SELECT ss.s, seed.ci, seed.e[ss.s*8+1 : ss.s*8+8] AS ce
        |  FROM seed CROSS JOIN
        |    (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s) ss),
        |subn AS (SELECT s, ci, ce, list_inner_product(ce, ce) AS n2 FROM sub),
        |enc AS (SELECT vec_id, s, ci AS code FROM (
        |    SELECT v.vec_id, sn.s, sn.ci, ROW_NUMBER() OVER (
        |      PARTITION BY v.vec_id, sn.s
        |      ORDER BY -2 * list_inner_product(v.e[sn.s*8+1 : sn.s*8+8], sn.ce)
        |        + sn.n2, sn.ci) AS rn
        |    FROM v CROSS JOIN subn sn) WHERE rn = 1),
        |bn AS (SELECT vec_id, sqrt(list_inner_product(e, e)) AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe,
        |    sqrt(list_inner_product(e, e)) AS qn FROM v WHERE vec_id < 5),
        |contrib AS (SELECT q.qid, enc.vec_id AS nid, enc.s,
        |    list_inner_product(q.qe[enc.s*8+1 : enc.s*8+8], sn.ce) AS a
        |  FROM q CROSS JOIN enc
        |  JOIN subn sn ON sn.s = enc.s AND sn.ci = enc.code
        |  WHERE enc.vec_id <> q.qid),
        |scored AS (SELECT c.qid, c.nid, list_sum(list(c.a ORDER BY c.s)) AS adc
        |  FROM contrib c GROUP BY c.qid, c.nid),
        |cs AS (SELECT s.qid, s.nid,
        |    CASE WHEN q.qn * b.nrm = 0 THEN 0 ELSE s.adc / (q.qn * b.nrm) END AS c
        |  FROM scored s JOIN q ON q.qid = s.qid JOIN bn b ON b.vec_id = s.nid),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY c DESC, nid) AS INTEGER) AS rank
        |  FROM cs)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // Index-roundtrip mirror: recompute assignment (IVF argmin) and PQ
    // codes from the raw table and aggregate per list — the Spark side
    // aggregates the RELOADED parquet index, so equality certifies the
    // partitioned layout end to end.
    "s_ivfpq_index_roundtrip" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |dist AS (SELECT v.vec_id, cn.ci,
        |    -2 * list_inner_product(v.e, cn.ce) + cn.n2 AS d
        |  FROM v CROSS JOIN cn),
        |assign AS (SELECT vec_id, ci AS ivf_list FROM (
        |    SELECT vec_id, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn FROM dist)
        |  WHERE rn = 1),
        |sub AS (SELECT ss.s, c.ci, c.ce[ss.s*8+1 : ss.s*8+8] AS ce
        |  FROM c CROSS JOIN
        |    (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s) ss),
        |subn AS (SELECT s, ci, ce, list_inner_product(ce, ce) AS n2 FROM sub),
        |enc AS (SELECT vec_id, s, ci AS code FROM (
        |    SELECT v.vec_id, sn.s, sn.ci, ROW_NUMBER() OVER (
        |      PARTITION BY v.vec_id, sn.s
        |      ORDER BY -2 * list_inner_product(v.e[sn.s*8+1 : sn.s*8+8], sn.ce)
        |        + sn.n2, sn.ci) AS rn
        |    FROM v CROSS JOIN subn sn) WHERE rn = 1),
        |cs AS (SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum
        |  FROM enc GROUP BY 1)
        |SELECT a.ivf_list, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(a.vec_id) AS BIGINT) AS sum_vec_id,
        |  CAST(SUM(cs.code_sum) AS BIGINT) AS code_sum
        |FROM assign a JOIN cs USING (vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // IVF-PQ mirror: the s_ann_ivf_top3 assign/probe CTEs (coarse
    // quantizer over the 8 lowest-vec_id embeddings, first-min ties,
    // nProbe=3) composed with the s_ann_pq_top3 enc/ADC CTEs — candidates
    // are exactly the probed lists' members, each scored by the
    // subspace-ordered table sum, cosine = adc / (||q||·||x||).
    "s_ann_ivfpq_top3" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci,
        |    e AS ce FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |cn AS (SELECT ci, ce, list_inner_product(ce, ce) AS n2 FROM c),
        |dist AS (SELECT v.vec_id, cn.ci,
        |    -2 * list_inner_product(v.e, cn.ce) + cn.n2 AS d
        |  FROM v CROSS JOIN cn),
        |assign AS (SELECT vec_id, ci AS ivf_list FROM (
        |    SELECT vec_id, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn FROM dist)
        |  WHERE rn = 1),
        |probe AS (SELECT vec_id AS qid, ci AS ivf_list FROM (
        |    SELECT vec_id, ci, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY d, ci) AS rn
        |    FROM dist WHERE vec_id < 5)
        |  WHERE rn <= 3),
        |sub AS (SELECT ss.s, c.ci, c.ce[ss.s*8+1 : ss.s*8+8] AS ce
        |  FROM c CROSS JOIN
        |    (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s) ss),
        |subn AS (SELECT s, ci, ce, list_inner_product(ce, ce) AS n2 FROM sub),
        |enc AS (SELECT vec_id, s, ci AS code FROM (
        |    SELECT v.vec_id, sn.s, sn.ci, ROW_NUMBER() OVER (
        |      PARTITION BY v.vec_id, sn.s
        |      ORDER BY -2 * list_inner_product(v.e[sn.s*8+1 : sn.s*8+8], sn.ce)
        |        + sn.n2, sn.ci) AS rn
        |    FROM v CROSS JOIN subn sn) WHERE rn = 1),
        |bn AS (SELECT vec_id, sqrt(list_inner_product(e, e)) AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe,
        |    sqrt(list_inner_product(e, e)) AS qn FROM v WHERE vec_id < 5),
        |cand AS (SELECT p.qid, a.vec_id AS nid
        |  FROM probe p JOIN assign a ON a.ivf_list = p.ivf_list
        |    AND a.vec_id <> p.qid),
        |contrib AS (SELECT cd.qid, cd.nid, enc.s,
        |    list_inner_product(q.qe[enc.s*8+1 : enc.s*8+8], sn.ce) AS a
        |  FROM cand cd
        |  JOIN q ON q.qid = cd.qid
        |  JOIN enc ON enc.vec_id = cd.nid
        |  JOIN subn sn ON sn.s = enc.s AND sn.ci = enc.code),
        |scored AS (SELECT c2.qid, c2.nid, list_sum(list(c2.a ORDER BY c2.s)) AS adc
        |  FROM contrib c2 GROUP BY c2.qid, c2.nid),
        |cs AS (SELECT s2.qid, s2.nid,
        |    CASE WHEN q.qn * b.nrm = 0 THEN 0 ELSE s2.adc / (q.qn * b.nrm) END AS c
        |  FROM scored s2 JOIN q ON q.qid = s2.qid JOIN bn b ON b.vec_id = s2.nid),
        |ranked AS (SELECT qid, nid, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY c DESC, nid) AS INTEGER) AS rank
        |  FROM cs)
        |SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
  )
}
