package graft.queries

import graft.Tables
import graft.operators.{Graph, Merge, Quality, SnapshotDiff}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-centrality and table-maintenance wave: link-graph PageRank /
  * triangles / degrees over a host graph derived deterministically from
  * `documents`, and a keyed snapshot diff over `orders`.
  *
  * The host graph derives BOTH endpoints of each edge from salted md5
  * digests of `doc_id` (the repo's standard engine-portable hash
  * family), so Spark and DuckDB compute the IDENTICAL pseudo-random
  * edge list from the same parquet: two directed edges per document
  * over 60 "hosts", self-loops dropped, distinct. md5 mixing matters —
  * the first cut used multiplicative hashing mod 40, and any such
  * affine map yields a degree-1 permutation graph (2654435761 ≡ 1
  * mod 40 even made the first generator pure self-loops): zero
  * triangles, perfectly uniform PageRank, an oracle check that
  * validated nothing. Pseudo-random fixtures need real hashing — the
  * same lesson the scale probe's graph stage records.
  */
object GraphInfra {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** First 4 md5-hex digits of `doc_id` + salt as a BIGINT in [0, m). */
  private def md5Mod(c: org.apache.spark.sql.Column, salt: String, m: Int) =
    conv(substring(md5(concat(c.cast("string"), lit(salt))), 1, 4), 16, 10)
      .cast("long") % m

  /** The deterministic host link graph (see object doc). */
  def hostEdges(docs: DataFrame): DataFrame =
    docs.select(md5Mod(col("doc_id"), "a", 60).as("src"),
        md5Mod(col("doc_id"), "b", 60).as("dst"))
      .union(docs.select(md5Mod(col("doc_id"), "c", 60).as("src"),
        md5Mod(col("doc_id"), "d", 60).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** DuckDB mirror of [[md5Mod]]: shift-sum parse of the same 4 hex
    * digits (integer all the way — matches `conv(…, 16, 10)`). */
  private def md5ModSql(salt: String, m: Int): String =
    "(CAST(list_sum(list_transform(range(1, 5), j -> " +
      "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) " +
      s"|| '$salt'), CAST(j AS INTEGER), 1)) - 1 AS BIGINT) " +
      s"<< (4 * (4 - CAST(j AS INTEGER))))) AS BIGINT) % $m)"

  /** SQL mirror of [[hostEdges]] as a CTE body. */
  private val edgesCte =
    s"""edges AS (
       |  SELECT src, dst FROM (
       |    SELECT ${md5ModSql("a", 60)} AS src, ${md5ModSql("b", 60)} AS dst
       |    FROM documents
       |    UNION
       |    SELECT ${md5ModSql("c", 60)}, ${md5ModSql("d", 60)} FROM documents
       |  ) AS e WHERE src <> dst)""".stripMargin

  /** Fixed-point PageRank (4 iterations) over the host graph — the
    * crawl-quality prior. Integer ranks ⇒ bit-exact across engines. */
  def gPagerankHosts(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(hostEdges(t(s, dir, "documents")), iterations = 4)
      .orderBy("node")

  /** DuckDB mirror: the same recurrence unrolled as chained CTEs.
    * `//` is DuckDB integer floor division = Spark `div` on the
    * all-positive BIGINTs involved. */
  private def pagerankSql(iterations: Int): String = {
    val header =
      s"""WITH $edgesCte,
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
         |ed AS (SELECT e.src, e.dst, d.outdeg
         |       FROM edges e JOIN deg d USING (src)),
         |r0 AS (SELECT node, (SELECT 1000000000000 // n FROM nn) AS rank
         |       FROM nodes)""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    (SELECT (15 * (1000000000000 // n)) // 100 FROM nn)
         |      + (85 * COALESCE(s.s, 0)) // 100 AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank // e.outdeg) AS s
         |    FROM ed e JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) AS s ON s.dst = nd.node)""".stripMargin
    }
    // DuckDB SUM(BIGINT) widens to HUGEINT — cast the final rank back to
    // BIGINT so the schema matches Spark's long (values fit: < 9e13).
    (header +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations ORDER BY node"
  }

  /** Personalized PageRank (seeds = hosts 0/1/2, 4 iterations) over
    * the host graph — the "more like these" expansion score. Integer
    * ranks ⇒ bit-exact across engines; unreached nodes hold 0. */
  def gPprHosts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Graph.personalizedPageRank(hostEdges(t(s, dir, "documents")),
      Seq(0L, 1L, 2L).toDF("node"), iterations = 4).orderBy("node")
  }

  /** DuckDB mirror of [[gPprHosts]]: the seed-teleport recurrence
    * unrolled as chained CTEs (the [[pagerankSql]] shape). */
  private def pprSql(iterations: Int): String = {
    val header =
      s"""WITH $edgesCte,
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |seeds AS (SELECT DISTINCT node FROM (VALUES (CAST(0 AS BIGINT)),
         |            (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS s(node)
         |          WHERE node IN (SELECT node FROM nodes)),
         |ns AS (SELECT COUNT(*) AS k FROM seeds),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
         |ed AS (SELECT e.src, e.dst, d.outdeg
         |       FROM edges e JOIN deg d USING (src)),
         |r0 AS (SELECT node,
         |         CASE WHEN node IN (SELECT node FROM seeds)
         |           THEN (SELECT 1000000000000 // k FROM ns)
         |           ELSE 0 END AS rank
         |       FROM nodes)""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    (CASE WHEN nd.node IN (SELECT node FROM seeds)
         |       THEN (SELECT (15 * (1000000000000 // k)) // 100 FROM ns)
         |       ELSE 0 END)
         |      + (85 * COALESCE(s.s, 0)) // 100 AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank // e.outdeg) AS s
         |    FROM ed e JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) AS s ON s.dst = nd.node)""".stripMargin
    }
    (header +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations ORDER BY node"
  }

  /** HITS hubs & authorities (3 iterations) over the host graph — the
    * directory-vs-content split PageRank can't express. Integer L1
    * rescale ⇒ bit-exact across engines. */
  def gHitsHosts(s: SparkSession, dir: String): DataFrame =
    Graph.hits(hostEdges(t(s, dir, "documents")), iterations = 3)
      .orderBy("node")

  /** DuckDB mirror of [[gHitsHosts]]: the propagate + integer-L1-
    * rescale rounds unrolled as chained CTEs (the [[pagerankSql]]
    * shape; scalar subqueries play the broadcast totals). */
  private def hitsSql(iterations: Int): String = {
    val header =
      s"""WITH $edgesCte,
         |de AS (SELECT DISTINCT src, dst FROM edges),
         |nodes AS (SELECT src AS node FROM de
         |          UNION SELECT dst FROM de),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |h0 AS (SELECT node,
         |    (SELECT 1000000000 // n FROM nn) AS hub FROM nodes)"""
        .stripMargin
    val steps = (1 to iterations).map { i =>
      s"""ar$i AS (SELECT de.dst AS node, SUM(h.hub) AS raw
         |  FROM de JOIN h${i - 1} h ON h.node = de.src GROUP BY 1),
         |a$i AS (SELECT nd.node,
         |    COALESCE(r.raw, 0) * 1000000000
         |      // (SELECT SUM(raw) FROM ar$i) AS auth
         |  FROM nodes nd LEFT JOIN ar$i r ON r.node = nd.node),
         |hr$i AS (SELECT de.src AS node, SUM(a.auth) AS raw
         |  FROM de JOIN a$i a ON a.node = de.dst GROUP BY 1),
         |h$i AS (SELECT nd.node,
         |    COALESCE(r.raw, 0) * 1000000000
         |      // (SELECT SUM(raw) FROM hr$i) AS hub
         |  FROM nodes nd LEFT JOIN hr$i r ON r.node = nd.node)"""
        .stripMargin
    }
    (header +: steps).mkString(",\n") +
      s"""
         |SELECT h.node, CAST(h.hub AS BIGINT) AS hub,
         |  CAST(a.auth AS BIGINT) AS auth
         |FROM h$iterations h JOIN a$iterations a ON a.node = h.node
         |ORDER BY h.node""".stripMargin
  }

  /** Triangle count over the host graph (oriented u<v two-join plan). */
  def gTriangleCount(s: SparkSession, dir: String): DataFrame =
    Graph.triangleCount(hostEdges(t(s, dir, "documents")))

  /** Top hosts by total degree — the hub profile of the link graph. */
  def gDegreeStats(s: SparkSession, dir: String): DataFrame =
    Graph.degrees(hostEdges(t(s, dir, "documents")))
      .orderBy(col("total_deg").desc, col("node")).limit(10)

  /** Per-node local clustering coefficient over the host graph —
    * exact triangle corners + degrees, ONE division: every column
    * including `lcc` hashes with no rounding. */
  def gClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    Graph.clusteringCoefficient(hostEdges(t(s, dir, "documents")))
      .orderBy("node")

  /** Adamic–Adar link prediction over the host graph: top 20
    * non-adjacent pairs by common-neighbor score. Counts are exact;
    * `score` carries ln, so the face compares it at 12 decimals (the
    * ln-ulp convention) and orders by the rounded value. */
  def gAdamicAdar(s: SparkSession, dir: String): DataFrame =
    Graph.adamicAdar(hostEdges(t(s, dir, "documents")))
      .withColumn("score", round(col("score"), 12))
      .orderBy(col("score").desc, col("u"), col("v")).limit(20)

  /** The host graph plus fixed pendant 2-chains (h)—(100+h)—(160+h)
    * for every h in [0, 60): the chains peel away under any k ≥ 2 and
    * sit 1–2 hops beyond their host, so k-core and BFS faces exercise
    * multi-round behavior at EVERY scale factor (the dense md5 host
    * core alone saturates — every host survives and everything is one
    * hop away). Chain ids live above 99, disjoint from host ids. */
  def chainedHostEdges(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val chains = (0L until 60L).flatMap(h =>
      Seq((h, 100L + h), (100L + h, 160L + h))).toDF("src", "dst")
    hostEdges(docs).unionByName(chains)
  }

  /** SQL mirror of [[chainedHostEdges]] as a CTE body (rides
    * [[edgesCte]]). */
  private val chainedCte =
    s"""$edgesCte,
       |chained AS (
       |  SELECT src, dst FROM edges
       |  UNION ALL
       |  SELECT h AS src, 100 + h AS dst
       |  FROM (SELECT CAST(UNNEST(range(0, 60)) AS BIGINT) AS h) AS c1
       |  UNION ALL
       |  SELECT 100 + h, 160 + h
       |  FROM (SELECT CAST(UNNEST(range(0, 60)) AS BIGINT) AS h) AS c2)"""
      .stripMargin

  /** Bounded k-core peel (k = 2, 4 rounds) over the chained host
    * graph: every pendant chain peels away in two rounds, the dense
    * md5 core survives — exact BIGINT degrees, bit-portable. */
  def gKcore(s: SparkSession, dir: String): DataFrame =
    Graph.kcorePeel(chainedHostEdges(t(s, dir, "documents")), k = 2,
      rounds = 4).orderBy("node")

  /** DuckDB mirror: the same peel unrolled as chained CTEs over the
    * same oriented edge set. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val header =
      s"""WITH $chainedCte,
         |e0 AS (SELECT DISTINCT least(src, dst) AS u,
         |       greatest(src, dst) AS v FROM chained WHERE src <> dst)"""
        .stripMargin
    val steps = (1 to rounds).map { r =>
      s"""k$r AS (SELECT node FROM (
         |    SELECT node, COUNT(*) AS degree FROM (
         |      SELECT u AS node FROM e${r - 1}
         |      UNION ALL SELECT v FROM e${r - 1}) AS d GROUP BY 1) AS g
         |  WHERE degree >= $k),
         |e$r AS (SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT node FROM k$r)
         |    AND v IN (SELECT node FROM k$r))""".stripMargin
    }
    (header +: steps).mkString(",\n") +
      s"""
         |SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         |  SELECT u AS node FROM e$rounds
         |  UNION ALL SELECT v FROM e$rounds) AS d
         |GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** BFS hop layers (seeds = hosts 0/1/2, 3 hops) over the chained
    * host graph: the dense core lands at hop 1, pendant chains at
    * 2–3. Exact BIGINT hops, min-distance by construction. */
  def gBfsLayers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Graph.bfsLayers(chainedHostEdges(t(s, dir, "documents")),
      Seq(0L, 1L, 2L).toDF("node"), maxDepth = 3).orderBy("node")
  }

  /** DuckDB mirror: unrolled frontier rounds with an anti-join against
    * the reached set — min hop count by construction, like Spark. */
  private def bfsSql(maxDepth: Int): String = {
    val header =
      s"""WITH $chainedCte,
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |        greatest(src, dst) AS v FROM chained WHERE src <> dst),
         |adj AS (SELECT u AS a, v AS b FROM und
         |        UNION ALL SELECT v, u FROM und),
         |f0 AS (SELECT DISTINCT node FROM (VALUES (CAST(0 AS BIGINT)),
         |         (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS s(node)
         |       WHERE node IN (SELECT u FROM und UNION SELECT v FROM und)),
         |r0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM f0)"""
        .stripMargin
    val steps = (1 to maxDepth).map { d =>
      s"""f$d AS (SELECT DISTINCT adj.b AS node
         |  FROM adj JOIN f${d - 1} ON adj.a = f${d - 1}.node
         |  WHERE adj.b NOT IN (SELECT node FROM r${d - 1})),
         |r$d AS (SELECT node, hops FROM r${d - 1}
         |  UNION ALL SELECT node, CAST($d AS BIGINT) FROM f$d)"""
        .stripMargin
    }
    (header +: steps).mkString(",\n") +
      s"\nSELECT node, hops FROM r$maxDepth ORDER BY node"
  }

  /** Snapshot diff over two derived `orders` snapshots: the old snapshot
    * drops keys ≡0 (mod 7), the new drops keys ≡0 (mod 5) and bumps
    * `o_totalprice` by 1.0 for keys ≡0 (mod 11) — so the diff exercises
    * all four statuses. Output is the per-status row count plus a key
    * checksum. */
  def lSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldSnap = orders.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    val newSnap = orders.where(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice") +
          when(col("o_orderkey") % 11 === 0, lit(1.0)).otherwise(lit(0.0)))
          .as("v"))
    SnapshotDiff.rowStatus(oldSnap, newSnap, Seq("k"), Seq("v"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"))
      .orderBy("status")
  }

  /** Keyed MERGE (CDC apply) over a derived `orders` snapshot: the base
    * drops keys ≡0 (mod 7); the change set inserts half the missing keys
    * back (I), bumps keys ≡3 (mod 10) by 5.0 (U), and deletes keys ≡6
    * (mod 10) (D). Output is the full merged table — every surviving
    * row's identity and value is oracle-checked, not a checksum. */
  def lMergeApply(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val base = orders.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    val inserts = orders
      .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), lit("I").as("op"),
        col("o_totalprice").as("v"))
    val updates = orders
      .where(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        (col("o_totalprice") + lit(5.0)).as("v"))
    val deletes = orders
      .where(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 10 === 6)
      .select(col("o_orderkey").as("k"), lit("D").as("op"),
        lit(null).cast("double").as("v"))
    // broadcastChanges=false: this fixture's change set is ~19% of the
    // base (a bulk backfill, not a trickle) — exactly the regime the
    // operator's contract routes through the shuffled anti join.
    Merge.applyChanges(base,
        inserts.unionByName(updates).unionByName(deletes), Seq("k"),
        broadcastChanges = false)
      .orderBy("k")
  }

  /** One-pass data-quality report over `orders` — six constraints of
    * five kinds in a single aggregation job, a deliberate MIX of passing
    * and failing rules (the testdata has 'P' statuses, totalprice
    * outliers, and heavily duplicated custkeys) so the oracle validates
    * real violation counts, not a vacuous all-zeros report. */
  def lQualityReport(s: SparkSession, dir: String): DataFrame =
    Quality.report(t(s, dir, "orders"), Seq(
      Quality.NotNull("o_custkey"),
      Quality.InRange("o_totalprice", 0.0, 300000.0),
      Quality.InSet("o_orderstatus", Seq("F", "O")),
      Quality.Matches("o_orderpriority", "^[1-5]-"),
      Quality.Unique(Seq("o_orderkey")),
      Quality.Unique(Seq("o_custkey"))))

  /** Synchronous label propagation (3 rounds, deterministic
    * most-frequent/min-label updates) over the chained host graph
    * ([[Graph.labelPropagation]]): the pendant chains collapse toward
    * their core anchors while the dense md5 core churns labels —
    * integer labels, bit-portable. */
  def gLabelProp(s: SparkSession, dir: String): DataFrame =
    Graph.labelPropagation(chainedHostEdges(t(s, dir, "documents")),
      rounds = 3).orderBy("node")

  /** DuckDB mirror: the same 3 synchronous sweeps unrolled as CTEs —
    * per round, neighbor-label counts and the (count desc, label asc)
    * top-1 window. */
  private def labelPropSql(rounds: Int): String = {
    val header =
      s"""WITH $chainedCte,
         |und AS (SELECT DISTINCT u, v FROM (
         |    SELECT src AS u, dst AS v FROM chained
         |    UNION ALL SELECT dst, src FROM chained) AS b
         |  WHERE u <> v),
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |l0 AS (SELECT node, node AS label FROM nodes)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""n$r AS (SELECT node, label FROM (
         |    SELECT und.u AS node, l.label, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY und.u
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM und JOIN l${r - 1} l ON und.v = l.node
         |    GROUP BY und.u, l.label) AS x WHERE rn = 1),
         |l$r AS (SELECT nodes.node,
         |    COALESCE(n$r.label, nodes.node) AS label
         |  FROM nodes LEFT JOIN n$r ON nodes.node = n$r.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""$header,
       |$steps
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_label_prop" -> (gLabelProp _),
    "l_merge_apply" -> (lMergeApply _),
    "l_quality_report" -> (lQualityReport _),
    "g_pagerank_hosts" -> (gPagerankHosts _),
    "g_triangle_count" -> (gTriangleCount _),
    "g_degree_stats" -> (gDegreeStats _),
    "g_clustering_coeff" -> (gClusteringCoeff _),
    "g_adamic_adar" -> (gAdamicAdar _),
    "g_kcore" -> (gKcore _),
    "g_ppr_hosts" -> (gPprHosts _),
    "g_hits_hosts" -> (gHitsHosts _),
    "g_bfs_layers" -> (gBfsLayers _),
    "l_snapshot_diff" -> (lSnapshotDiff _),
  )

  val oracle: Map[String, String] = Map(
    "g_label_prop" -> labelPropSql(rounds = 3),
    "l_quality_report" ->
      """WITH a AS (SELECT COUNT(*) AS total,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v0,
        |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
        |    AND o_totalprice NOT BETWEEN 0 AND 300000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v1,
        |  CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('F', 'O') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
        |    AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) - COUNT(DISTINCT o_orderkey) AS v4,
        |  CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) - COUNT(DISTINCT o_custkey) AS v5
        |  FROM orders)
        |SELECT seq, rule, violations, total,
        |  violations = 0 AS passed
        |FROM (
        |  SELECT 0 AS seq, 'not_null(o_custkey)' AS rule,
        |    v0 AS violations, total FROM a
        |  UNION ALL SELECT 1, 'in_range(o_totalprice,0.0,300000.0)',
        |    v1, total FROM a
        |  UNION ALL SELECT 2, 'in_set(o_orderstatus)', v2, total FROM a
        |  UNION ALL SELECT 3, 'matches(o_orderpriority)', v3, total FROM a
        |  UNION ALL SELECT 4, 'unique(o_orderkey)', v4, total FROM a
        |  UNION ALL SELECT 5, 'unique(o_custkey)', v5, total FROM a) r
        |ORDER BY seq""".stripMargin,
    "l_merge_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |chg AS (
        |  SELECT o_orderkey AS k, 'I' AS op, o_totalprice AS v
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice + 5.0
        |  FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'D', NULL
        |  FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 10 = 6)
        |SELECT k, v FROM (
        |  SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM chg)
        |  UNION ALL
        |  SELECT k, v FROM chg WHERE op <> 'D') AS m
        |ORDER BY k""".stripMargin,
    "g_pagerank_hosts" -> pagerankSql(4),
    "g_triangle_count" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |        FROM edges)
         |SELECT COUNT(*) AS n_triangles
         |FROM und e1
         |JOIN und e2 ON e2.u = e1.v
         |JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "g_degree_stats" ->
      s"""WITH $edgesCte,
         |outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY 1),
         |ind AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY 1)
         |SELECT COALESCE(o.node, i.node) AS node,
         |  COALESCE(o.out_deg, 0) AS out_deg,
         |  COALESCE(i.in_deg, 0) AS in_deg,
         |  COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS total_deg
         |FROM outd o FULL JOIN ind i ON i.node = o.node
         |ORDER BY total_deg DESC, node LIMIT 10""".stripMargin,
    // LCC mirror: same oriented wedge closure, corner explode via
    // UNION ALL, undirected degrees; lcc is exact BIGINTs + one
    // division — unrounded.
    "g_clustering_coeff" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |        greatest(src, dst) AS v FROM edges),
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM und e1
         |  JOIN und e2 ON e2.u = e1.v
         |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
         |corners AS (SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
         |tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |  FROM corners GROUP BY 1),
         |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT u AS node FROM und
         |        UNION ALL SELECT v FROM und) AS e GROUP BY 1)
         |SELECT d.node, d.degree,
         |  COALESCE(t.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
         |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
         |  END AS lcc
         |FROM dg d LEFT JOIN tc t ON t.node = d.node
         |ORDER BY d.node""".stripMargin,
    // Adamic–Adar mirror: symmetric adjacency, center self-join,
    // anti-join against existing edges, fixed center-order fold;
    // score at 12 decimals (ln ulps).
    "g_adamic_adar" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |        greatest(src, dst) AS v FROM edges),
         |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT u AS node FROM und
         |        UNION ALL SELECT v FROM und) AS e GROUP BY 1),
         |adj AS (SELECT u AS z, v AS n FROM und
         |        UNION ALL SELECT v AS z, u AS n FROM und),
         |w AS (SELECT a1.z AS z, a1.n AS u, a2.n AS v, d.deg AS deg
         |  FROM adj a1 JOIN adj a2 ON a2.z = a1.z
         |  JOIN dg d ON d.node = a1.z
         |  WHERE a1.n < a2.n),
         |cand AS (SELECT w.z, w.u, w.v, w.deg FROM w
         |  LEFT JOIN und e ON e.u = w.u AND e.v = w.v
         |  WHERE e.u IS NULL),
         |g AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         |    ROUND(0.0 + list_reduce(
         |      list(1.0 / ln(CAST(deg AS DOUBLE)) ORDER BY z),
         |      (a, b) -> a + b), 12) AS score
         |  FROM cand GROUP BY 1, 2)
         |SELECT u, v, common_neighbors, score FROM g
         |ORDER BY score DESC, u, v LIMIT 20""".stripMargin,
    "g_kcore" -> kcoreSql(k = 2, rounds = 4),
    "g_ppr_hosts" -> pprSql(iterations = 4),
    "g_hits_hosts" -> hitsSql(iterations = 3),
    "g_bfs_layers" -> bfsSql(maxDepth = 3),
    "l_snapshot_diff" ->
      """WITH oldsnap AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |newsnap AS (
        |  SELECT o_orderkey AS k,
        |    o_totalprice + CASE WHEN o_orderkey % 11 = 0
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS v
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (
        |  SELECT COALESCE(o.k, n.k) AS k,
        |    CASE WHEN o.k IS NULL THEN 'added'
        |         WHEN n.k IS NULL THEN 'removed'
        |         WHEN o.v IS DISTINCT FROM n.v THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM oldsnap o FULL JOIN newsnap n ON o.k = n.k)
        |SELECT status, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
