package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl/corpus curation: fixed-point PageRank
  * and degree-ordered triangle counting.
  *
  * The reference pipeline weights sources by cluster prevalence when it
  * ranks variant tables (`/root/reference/Plotting_Functions.py:700–713`
  * row-sum ordering); at web-corpus scale the analogous quality prior is
  * link-graph centrality over the host graph (the classic crawl-quality
  * signal used by corpus-curation pipelines). Both operators here are
  * engine-portable by construction so a DuckDB oracle can mirror them
  * bit for bit:
  *
  *  - PageRank runs in SCALED INTEGER arithmetic (ranks are BIGINTs in
  *    units of 1e-12): every step is integer multiply / integer floor-div,
  *    which both engines evaluate identically — no float accumulation
  *    order to diverge on. A float PageRank would hash-mismatch across
  *    engines on summation order alone.
  *  - Triangle counting canonicalizes edges to `u < v` first (the
  *    degree-ordered / oriented-edge trick): each triangle is generated
  *    exactly once as a < b < c, and a high-degree hub only ever expands
  *    pairs on its ORIENTED (smaller) side rather than its full adjacency.
  *
  * Scale posture (100 TB / 1e9-node graphs):
  *  - Each PageRank iteration is one shuffle-join of `rank ⋈ edges` on
  *    `src` plus one aggregation on `dst` — the textbook distributed
  *    PageRank plan. Edges are projected to `(src, dst)` longs before the
  *    loop, so the shuffle carries 16 bytes/edge regardless of upstream
  *    payload width. `outdeg` is folded into the edge relation once,
  *    up front, so the per-iteration join is binary, not ternary.
  *  - The iteration count is a small constant (the caller's `iterations`);
  *    plans unroll K joins rather than driver-looping over actions, so
  *    AQE still sees one job per materialization.
  *  - Triangle counting shuffles the oriented edge list twice (once per
  *    join). Orientation bounds the expansion per node by its FORWARD
  *    degree, which for power-law graphs is the standard mitigation that
  *    keeps the hub's task from going quadratic.
  */
object Graph {

  /** Lineage cut for the loop-invariant relations of the unrolled
    * operators below. eager = false: the cut happens when the FIRST
    * ACTION runs, not at DataFrame construction — merely building the
    * query (plan dumps, schema inspection, registry iteration) must not
    * launch Spark jobs. */
  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Ranks are integers in units of 1e-12 (so total mass ≈ SCALE). */
  val Scale: Long = 1000000000000L

  /** Fixed-point PageRank with damping 0.85 over directed `edges`
    * (`src: long, dst: long`). Returns `(node, rank)` with rank a BIGINT
    * in units of 1e-12.
    *
    * Arithmetic contract (mirrored literally by the DuckDB oracle):
    * `base = Scale div N`; each iteration
    * `rank'(v) = (15*base) div 100 + (85 * Σ_{u→v} (rank(u) div outdeg(u))) div 100`.
    * Dangling-node mass leaks (no redistribution) — deliberate, so the
    * recurrence stays a pure integer fold both engines agree on.
    */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    // The K iterations unroll into ONE plan in which the loop-invariant
    // relations appear at every level — without a lineage cut, the edge
    // derivation (often a join/parse pipeline upstream) re-executes K
    // times inside the final job. localCheckpoint materializes each
    // invariant once and truncates its lineage: the EDGE relation first
    // (so nodes/withDeg below derive from the materialized 16-byte rows,
    // not the upstream pipeline), then the two derived relations that
    // each iteration joins. Blocks are freed by the ContextCleaner when
    // the result frame is dropped. Caveat, deliberate: localCheckpoint
    // blocks are executor-local and unreplicated — an executor loss
    // mid-computation fails the job instead of recomputing (rerun it);
    // that trade buys not re-executing the edge pipeline K times, the
    // standard iterative-algorithm bargain (see [[cut]]).
    val e = cut(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // Scalar cardinality for the teleport term. The node set is the graph
    // dimension (hosts, not documents) — counting it is a tiny aggregate,
    // not a data-sized collect.
    val n = nodes.count()
    require(n > 0, "pageRank on an empty graph")
    val base = Scale / n
    val teleport = (15L * base) / 100L
    // Fold outdeg into the edge relation once so each iteration joins two
    // relations, not three.
    val withDeg = cut(e.join(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src")))
    var rank = nodes.withColumn("rank", lit(base))
    for (_ <- 1 to iterations) {
      val contribs = withDeg.join(rank, withDeg("src") === rank("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      rank = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"85 * coalesce(s, 0L) div 100")).as("rank"))
    }
    rank
  }

  /** Personalized PageRank: [[pageRank]]'s recurrence with the teleport
    * mass restricted to a SEED set — the related-host / crawl-frontier
    * expansion score (rank concentrates around the seeds instead of
    * spreading globally), and the standard "more like these" primitive
    * over a link graph.
    *
    * Same fixed-point integer contract as [[pageRank]] (bit-portable,
    * mirrored literally by the oracle): `base = Scale div |seeds∩graph|`,
    * seeds start at `base` and everyone else at 0; each iteration
    * `rank'(v) = [v ∈ seeds]·(15·base) div 100
    *             + (85 · Σ_{u→v} rank(u) div outdeg(u)) div 100`.
    * Dangling mass leaks, as in [[pageRank]]. Directed edges, like
    * [[pageRank]] (personalization is usually asked of the directed
    * crawl graph); orient upstream for the undirected reading.
    *
    * Scale: identical per-iteration plan to [[pageRank]] — one 16-byte
    * shuffle join + one aggregation per round, localCheckpoint-cut
    * loop invariants; the seed membership rides the node relation as a
    * 0/teleport literal column, no extra join in the loop. Output:
    * (node, rank) — nodes the seeds never reach hold rank 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1,
      "personalizedPageRank needs at least one iteration")
    val e = cut(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    val inGraph = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seedNodes = cut(seeds.select(col("node").cast("long"))
      .distinct().join(inGraph, Seq("node"), "left_semi"))
    val nSeeds = seedNodes.count()
    require(nSeeds > 0, "personalizedPageRank: no seed appears in the graph")
    val base = Scale / nSeeds
    val teleport = (15L * base) / 100L
    // Teleport folded into the node relation ONCE — the loop below
    // never touches the seed set again.
    val nodes = cut(inGraph.join(
        seedNodes.withColumn("__t", lit(teleport)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("teleport")))
    val withDeg = cut(e.join(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src")))
    var rank = nodes.select(col("node"),
      when(col("teleport") > 0L, lit(base)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = withDeg.join(rank, withDeg("src") === rank("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      rank = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (col("teleport") +
            expr("85 * coalesce(s, 0L) div 100")).as("rank"))
    }
    rank
  }

  /** HITS scale: 1e9, NOT [[Scale]] — the rescale step multiplies a
    * raw score (≤ total mass) by the scale before the floor-div, so
    * the intermediate is bounded by HitsScale² = 1e18 < 2⁶³; Scale²
    * = 1e24 would wrap. */
  val HitsScale: Long = 1000000000L

  /** HITS hubs & authorities over the DIRECTED graph (Kleinberg) — the
    * centrality [[pageRank]] cannot express: PageRank scores a page by
    * what points AT it; HITS separates being a good DIRECTORY (hub:
    * points at good authorities) from being good CONTENT (authority:
    * pointed at by good hubs) — the classic crawl-frontier split
    * between link farms, hubs, and destination pages.
    *
    * Fixed-point integer contract (mirrored literally by the oracle):
    * hubs start at `HitsScale div N`; each iteration
    *   auth_raw(v) = Σ_{u→v} hub(u);
    *   auth(v) = auth_raw(v) · HitsScale div (Σ auth_raw)   (L1 rescale)
    * then symmetrically hub from auth. The L1 normalization is an
    * integer floor-div against a 1-row total that rides the plan as a
    * broadcast cross join — NO per-round driver action, the
    * [[pageRank]] loop discipline. All quantities bounded:
    * raw ≤ HitsScale, raw·HitsScale ≤ 1e18 < 2⁶³.
    *
    * Scale: per iteration two join+agg rounds over 16-byte edge rows
    * plus two 1-row total broadcasts; loop invariants
    * localCheckpoint-cut. Output: (node, hub, auth) — nodes outside
    * every edge direction hold 0 on that side. */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    val e = cut(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct())
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "hits on an empty graph")
    var hub = nodes.withColumn("hub", lit(HitsScale / n))
    var auth: DataFrame = null
    // one rescaled propagation step: scores flow across `edges` from
    // `from` onto `to`, then L1-rescale to HitsScale total mass
    def step(scores: DataFrame, scoreCol: String, from: String,
        to: String, outCol: String): DataFrame = {
      val raw = e.join(scores, e(from) === scores("node"))
        .groupBy(col(to).as("node"))
        .agg(sum(col(scoreCol)).as("__raw"))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      cut(nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"coalesce(__raw, 0L) * ${HitsScale}L div __tot")
            .as(outCol)))
    }
    for (_ <- 1 to iterations) {
      auth = step(hub, "hub", "src", "dst", "auth")
      hub = step(auth, "auth", "dst", "src", "hub")
    }
    hub.join(auth, Seq("node"))
  }

  /** Canonical undirected edge list: distinct `(u, v)` with `u < v`,
    * self-loops dropped. The orientation is what makes triangle counting
    * hub-safe and once-per-triangle. */
  def orient(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") < col("v"))
      .distinct()

  /** Total triangle count via the oriented two-join plan: wedges
    * (a<b)·(b<c) closed by the (a,c) edge. Each triangle a<b<c is
    * produced exactly once. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = orient(edges)
    val e1 = und.as("e1")
    val e2 = und.as("e2")
    val e3 = und.as("e3")
    e1.join(e2, col("e2.u") === col("e1.v"))
      .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over the UNDIRECTED graph —
    * the community-density profile next to the global [[triangleCount]]:
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the fraction of v's
    * neighbor pairs that are themselves connected (hub pages with
    * interlinked neighborhoods vs. pure star spam — a standard crawl
    * -graph quality signal).
    *
    * Construction: the same oriented (u<v) two-join wedge closure as
    * [[triangleCount]] — each triangle a<b<c materializes once — then
    * one explode over its three corners counts per-node triangles
    * exactly; undirected degree comes from one aggregation over both
    * edge endpoints. lcc is exact BIGINTs plus ONE division (2·t and
    * d·(d−1) stay integer), so every column hashes bit-for-bit
    * cross-engine. Nodes with deg < 2 yield null lcc (no neighbor
    * pair to close).
    *
    * Scale: orientation bounds each node's wedge expansion by its
    * FORWARD degree (the power-law hub mitigation [[triangleCount]]
    * documents); the corner explode adds 3 rows per triangle, grouped
    * immediately. Output: (node, degree, n_triangles, lcc). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = orient(edges)
    val e1 = und.as("e1")
    val e2 = und.as("e2")
    val e3 = und.as("e3")
    val triangles = e1.join(e2, col("e2.u") === col("e1.v"))
      .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("lcc", when(col("degree") >= 2L,
        (lit(2L) * col("n_triangles")).cast("double") /
          (col("degree") * (col("degree") - 1L)).cast("double")))
  }

  /** Adamic–Adar link prediction over the UNDIRECTED graph: for every
    * non-adjacent pair (u < v) sharing at least one neighbor,
    * AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — common neighbors,
    * discounted by how promiscuous each one is. The classic
    * missing-link / related-host score for crawl frontier expansion
    * and near-duplicate-site discovery.
    *
    * Construction: symmetric adjacency from the oriented edges, wedges
    * z→(u,v) via ONE self-join on the center z (u < v dedups each
    * pair), existing edges removed by an anti-join against the
    * oriented edge list. Common-neighbor counts are exact BIGINTs;
    * each 1/ln(deg z) term is discounted once per wedge and folds in
    * FIXED center order (the Stats order-pinning), so `score` is
    * deterministic; ln means registered faces compare it rounded (the
    * ln-ulp convention). Centers of degree 1 cannot form wedges;
    * deg = 1 ⇒ ln 1 = 0 can therefore never divide.
    *
    * Scale: the wedge fan-out is Σ_z deg(z)², quadratic in hub degree
    * — a `maxDegree` fail-fast raises rather than letting one hub go
    * quadratic silently (salt-or-sample decisions belong to the
    * caller, same contract as Dedup's maxPosting). Output:
    * (u, v, common_neighbors, score). */
  def adamicAdar(edges: DataFrame, maxDegree: Int = 10000): DataFrame = {
    val und = orient(edges)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .withColumn("deg", when(col("deg") > maxDegree.toLong,
        raise_error(lit(s"adamicAdar: a node exceeds maxDegree=" +
          s"$maxDegree - the wedge fan-out is quadratic in hub degree; " +
          "raise maxDegree explicitly or pre-filter hubs"))
          .cast("bigint")).otherwise(col("deg")))
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .union(und.select(col("v").as("z"), col("u").as("n")))
    val centered = adj.join(deg.withColumnRenamed("node", "z"), "z")
    val a1 = centered.select(col("z"), col("n").as("u"), col("deg"))
    val a2 = centered.select(col("z"), col("n").as("v"))
    val wedges = a1.join(a2, "z").where(col("u") < col("v"))
    val candidates = wedges.join(und, Seq("u", "v"), "left_anti")
    candidates
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_neighbors"),
        sort_array(collect_list(struct(col("z"),
          (lit(1.0) / log(col("deg").cast("double"))).as("__t"))))
          .as("__ts"))
      .withColumn("score", aggregate(col("__ts"), lit(0.0),
        (acc, s) => acc + s.getField("__t")))
      .drop("__ts")
  }

  /** Per-node degree profile over the directed edge list: out-degree,
    * in-degree, and total, one row per node appearing anywhere. */
  def degrees(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("total_deg", col("out_deg") + col("in_deg"))
  }

  /** BFS hop layers from a seed set over the UNDIRECTED graph: each
    * reachable node's hop distance from the nearest seed, up to
    * `maxDepth` hops — the crawl-frontier / site-neighborhood question
    * (how far is every host from the trusted seed list), and the
    * bounded-depth reachability primitive behind "within k clicks"
    * audits.
    *
    * Construction: `maxDepth` unrolled frontier rounds (the
    * [[pageRank]] shape — bounded joins, no driver-side convergence
    * actions): round d joins the layer-(d−1) frontier to the symmetric
    * adjacency and anti-joins everything already reached, so each node
    * is labeled EXACTLY once with its minimum hop count — BFS
    * semantics by construction, deterministic under any execution
    * order, every column an exact BIGINT (bit-portable, no floats at
    * all). Nodes farther than `maxDepth` (or unreachable) are absent.
    *
    * Scale: each round shuffles (frontier ⋈ adjacency) — frontier
    * rows are 8-byte node ids, adjacency 16-byte pairs; the reached
    * set grows monotonically and is localCheckpoint-cut each round so
    * round d's plan doesn't re-derive rounds 1..d−1. maxDepth is a
    * small constant by contract (diameter probes, not transitive
    * closure). Output: (node, hops). */
  def bfsLayers(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 16,
      s"bfsLayers needs 1 <= maxDepth <= 16, got $maxDepth")
    val und = cut(orient(edges))
    val adj = cut(und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b"))))
    // seeds restricted to nodes that exist in the graph, layer 0
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
    var reached = cut(seeds.select(col("node").cast("long"))
      .distinct().join(nodes, Seq("node"), "left_semi")
      .withColumn("hops", lit(0L)))
    var frontier = reached.select("node")
    for (d <- 1 to maxDepth) {
      val next = cut(frontier.join(adj, frontier("node") === adj("a"))
        .select(col("b").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti"))
      reached = cut(reached.unionByName(
        next.withColumn("hops", lit(d.toLong))))
      frontier = next
    }
    reached
  }

  /** Bounded k-core peel over the UNDIRECTED graph: `rounds`
    * iterations of "drop every node with degree < k", returning the
    * surviving nodes with their residual degrees — the dense-core
    * extraction that separates genuinely interlinked host communities
    * from pendant chains and star spam (a pendant tree peels away
    * entirely; a clique never loses a node).
    *
    * Semantics are EXACTLY `rounds` peels — deterministic and
    * engine-mirrorable as an unrolled CTE chain. Peeling is idempotent
    * at the fixpoint, so any `rounds` ≥ the graph's peel depth yields
    * the true k-core; a too-small `rounds` returns the intermediate
    * (still well-defined) peel state rather than guessing. The
    * survivors' `degree` column makes under-peeling VISIBLE: the
    * result is the true k-core iff every residual degree ≥ k.
    *
    * Scale: each round is one aggregation over the surviving edge set
    * plus two semi joins (16-byte edge rows), localCheckpoint-cut so
    * round r doesn't replay rounds 1..r−1; `rounds` is a small
    * constant by contract (real-graph peel depths are shallow; raise
    * it when the degree column says so). Exact BIGINTs throughout.
    * Output: (node, degree) of the surviving subgraph. */
  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E
    * 2007) — the community detector the graph block lacked: every node
    * starts labeled with itself; each round it adopts the MOST FREQUENT
    * label among its neighbors, ties broken by the SMALLEST label — a
    * deterministic synchronous update (the async/random-order variants
    * are not engine-portable; this one replays bit-for-bit, and an
    * unrolled SQL mirror can replicate each round).
    *
    * `rounds` is a fixed unroll like [[pageRank]]/[[kcorePeel]] — LPA
    * on real graphs stabilizes in a handful of sweeps, and a FIXED
    * round count is what keeps the operator deterministic and the
    * oracle finite. Isolated-from-the-join nodes keep their current
    * label. Each round is one join + one count aggregation + one
    * partitioned top-1 window over (node, label) pairs — edge-sized
    * shuffles, no driver state; `localCheckpoint` truncates the
    * lineage per round (the iterative-operator convention).
    *
    * Output: (node, label) — nodes sharing a label share a community. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"labelPropagation needs 1 <= rounds <= 8, got $rounds")
    val und = cut(edges
      .select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .where(col("u") =!= col("v")).distinct())
    val nodes = und.select(col("u").as("node")).distinct()
    var labels = cut(nodes.withColumn("label", col("node")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("__c").desc, col("label").asc)
    for (_ <- 1 to rounds) {
      val next = und
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("node", "label")
      labels = cut(nodes.join(next, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node"))
          .as("label")))
    }
    labels
  }

  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kcorePeel needs k >= 1, got $k")
    require(rounds >= 1 && rounds <= 16,
      s"kcorePeel needs 1 <= rounds <= 16, got $rounds")
    var e = cut(orient(edges))
    for (_ <- 1 to rounds) {
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k.toLong).select("node")
      e = cut(e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
    }
    e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }
}
