package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, InputAdapter, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Physical-plan regression tests: the scale properties the operators are
  * designed around (broadcasts stay broadcasts, filters reach the scan,
  * top-k is TakeOrdered, no nested-loop/cartesian joins sneak in) are
  * asserted on `.explain` output so a plan regression fails CI, not a
  * 100 TB run.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("plan-spec")
  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star join broadcasts all three dimensions — no sort-merge join") {
    val p = plan(queries.Relational.j3BroadcastStarJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("global top-k plans as TakeOrdered, not a full sort") {
    val p = plan(queries.Relational.o4TopkParts(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k missing TakeOrdered:\n$p")
  }

  test("predicate stack pushes filters into the parquet scan") {
    val p = queries.Relational.f5PredicateStack(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") &&
      p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").nonEmpty,
      s"no filters pushed to scan:\n$p")
  }

  test("column pruning reaches the scan (2-column projection reads 2 columns)") {
    val df = Tables(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    val p = plan(df)
    val readSchema = p.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
    assert(readSchema.contains("l_partkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads pruned columns: $readSchema")
  }

  test("dense weekly frame broadcasts the key set — no shuffle on the big side") {
    val p = plan(queries.Relational.a5DenseWeekly(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"dense cross/left joins should broadcast the tiny sides:\n$p")
  }

  test("ANN brute force broadcasts the query side") {
    val p = plan(queries.TextLLM.sAnnBruteTop5(spark, sf))
    assert(p.contains("Broadcast"), s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"ANN degraded to SMJ:\n$p")
  }

  test("near-dup pipelines never contain a cartesian product") {
    for (q <- Seq(
        queries.TextLLM.dMinhashNearDups(spark, sf),
        queries.TextLLM.dSimhashNearDups(spark, sf),
        queries.TextLLM.sAnnLshTop3(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    }
  }

  test("SemDeDup split path stays an equi-join on the cluster id — no cartesian") {
    import spark.implicits._
    // skewed enough that semanticAssign actually splits (one blob holds
    // ~all rows, maxClusterRows forces two recursion levels)
    val rng = new scala.util.Random(7)
    val vecs = (0L until 200L).map { i =>
      val c = if (i % 25 == 0) -4.0 else 4.0
      (i, Seq.fill(8)((c + rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = operators.Similarity.trainCentroids(vecs, k = 2, iters = 1)
    val pairs = operators.Similarity.semanticDedupPairs(vecs, cents,
      minCosine = 0.9, maxClusterRows = 60)
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
  }

  test("minhash verification sets aggregate only semi-joined candidate ids") {
    // VERDICT r5 #3: the collect_list that builds exact-Jaccard sets must
    // consume the posting AFTER a left-semi join against candidate ids —
    // without it, every document's shingle array shuffles into the set
    // aggregate even though only candidates (≪1%) are ever verified.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = queries.TextLLM.dMinhashNearDups(spark, sf)
      .queryExecution.optimizedPlan
    val setAggs = plan.collect {
      case a: Aggregate
          if a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a
    }
    assert(setAggs.nonEmpty, "no collect_list aggregate found in minhash plan")
    setAggs.foreach { a =>
      val semis = a.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty,
        s"collect_list aggregate input is not semi-joined to candidate ids:\n$a")
    }
  }

  test("globalRowNumber == naive global rank, with both phases over ONE range exchange") {
    import spark.implicits._
    val df = (1 to 10000).map(i => ((i * 2654435761L) % 997, i)).toDF("k", "id")
    import org.apache.spark.sql.functions.col
    val ranked = graft.operators.Ranks.globalRowNumber(
      df, Seq(col("k").asc, col("id").asc), "rk", numPartitions = 8)
    val got = ranked.orderBy("rk").collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getInt(1)))
    val expected = (1 to 10000).map(i => ((i * 2654435761L) % 997, i))
      .sorted.zipWithIndex.map { case ((k, id), i) => (i + 1L, k, id) }
    assert(got.toSeq == expected)
    // the offsets branch must see the SAME range partitioning as the
    // ranking branch — independently sampled bounds could disagree
    // between phases. Since r16 the operator lazily localCheckpoints the
    // range-partitioned frame, so consistency holds by CONSTRUCTION: the
    // range exchange materializes once inside the checkpoint and every
    // branch (counts, offsets, rank join) is an RDD scan over that one
    // checkpointed RDD. Assert exactly that: all checkpoint scans in the
    // executed plan share ONE underlying RDD id, and no consumer re-runs
    // its own range shuffle.
    ranked.collect()
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(walk)
    }
    val nodes = walk(ranked.queryExecution.executedPlan)
    val ckptIds = nodes.collect { case s: RDDScanExec => s.inputRDD.id }
    assert(ckptIds.size >= 2 && ckptIds.distinct.size == 1,
      s"every branch must read ONE checkpointed range-partitioned RDD: " +
        s"got scans over RDD ids ${ckptIds.mkString(",")}")
    val rangeShuffles = nodes.count {
      case s: ShuffleExchangeExec =>
        s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    assert(rangeShuffles == 0,
      s"no consumer may re-run its own range shuffle above the " +
        s"checkpoint: found $rangeShuffles")
  }

  test("groupOls is ONE aggregation pass: a single exchange, no join, no window") {
    val p = plan(queries.Extras.aGroupOls(spark, sf))
    assert("Exchange".r.findAllIn(p.replace("AQEShuffleRead", "")).size <= 2,
      s"OLS should shuffle once (plus the final sort):\n$p") // agg + orderBy
    assert(!p.contains("Join"), s"OLS must not join:\n$p")
    assert(!p.contains("Window"), s"OLS must not window:\n$p")
  }

  test("KMV estimate contains no COUNT(DISTINCT)-style expand or value exchange") {
    val p = plan(queries.Extras.aKmvDistinct(spark, sf))
    // the sketch side aggregates hashes via the capped buffer; only the
    // deliberate exact-count comparison side may plan count(distinct)
    assert(p.contains("ObjectHashAggregate"), s"capped aggregator missing:\n$p")
    assert(!p.contains("Window"), s"KMV must not window:\n$p")
  }

  test("winsorize broadcasts the bounds back — no shuffle join on the data side") {
    val p = plan(queries.Extras.tWinsorizeChars(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bounds join degraded to SMJ:\n$p")
  }

  test("no registered query plans a partition-less window (single-task trap)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.windowExpressions.mkString(",")
      }
      bad.map(name -> _)
    }
    assert(offenders.isEmpty,
      s"partition-less Window (moves all rows to ONE task) in: $offenders")
  }

  test("no registered query plans an unbounded cartesian product") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Cross
    // all-pairs verification tails that ARE cartesian by design carry a
    // requireBounded fail-fast on their inputs — everything else must not
    val boundedAllPairs = Set("d_token_jaccard_pairs", "d_embedding_neardups")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => boundedAllPairs(name) }
      .flatMap { case (name, fn) =>
        val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
          // cross joins with a 1-row side (corpus-stats broadcast) are
          // fine, as are explicitly broadcast-HINTED crosses (the dense
          // key×week frame — the hint is the author's smallness
          // assertion); flag only unhinted condition-less joins of two
          // multi-row inputs
          case j: Join if j.joinType == Cross && j.condition.isEmpty &&
              j.left.maxRows.forall(_ > 1) && j.right.maxRows.forall(_ > 1) &&
              j.hint.leftHint.forall(_.strategy.isEmpty) &&
              j.hint.rightHint.forall(_.strategy.isEmpty) =>
            j.simpleString(60)
        }
        bad.map(name -> _)
      }
    assert(offenders.isEmpty, s"unbounded cartesian in: $offenders")
  }

  test("salted aggregate equals plain aggregate (skew-spread two-phase)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i.toDouble))
      .toDF("key", "v")
    val salted = operators.Skew.saltedAggregate(df,
        org.apache.spark.sql.functions.col("key"), salts = 8,
        Map("total" -> org.apache.spark.sql.functions.col("v")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = df.groupBy("key")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("salted join equals plain join for every sound join type; unsound rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    // 90% of probe rows hit ONE key; build has unmatched keys both ways
    val probe = (1 to 1000).map(i =>
      (if (i <= 900) 1L else (i % 50).toLong, i)).toDF("pk", "pv")
    val build = (0L to 30L).map(k => (k, s"b$k")).toDF("bk", "bv")
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val salted = rows(operators.Skew.saltedJoin(
        probe, c("pk"), build, c("bk"), salts = 8, joinType = jt))
      val plain = rows(probe.join(build, c("pk") === c("bk"), jt))
      assert(salted == plain, s"salted $jt diverged from plain join")
    }
    intercept[IllegalArgumentException] {
      operators.Skew.saltedJoin(probe, c("pk"), build, c("bk"), 8, "full")
    }
    intercept[IllegalArgumentException] {
      operators.Skew.saltedJoin(probe, c("pk"), build, c("bk"), 8, "right")
    }
  }

  test("BM25 broadcasts query terms and stats — no SMJ, no cartesian") {
    val p = plan(queries.TextLLM.tBm25Top5(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"query-term join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"BM25 degraded to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in BM25:\n$p")
  }

  test("boilerplate removal: AQE broadcasts the (small) high-df set's anti join") {
    // no broadcast HINT (an unbounded flagged set must not funnel through
    // the driver) — but when the set IS small, AQE must still pick a
    // broadcast anti join rather than shuffling the corpus
    val df = operators.Curation.removeBoilerplateLines(
      Tables(spark, sf, "documents"), org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"), minDf = 3)
    df.collect() // let AQE re-plan with runtime sizes
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"anti join missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small high-df set:\n$p")
  }

  test("j6_range_join_exec plans the custom BroadcastRangeJoin, not a nested loop") {
    val p = plan(queries.Relational.j6RangeJoinExec(spark, sf))
    assert(p.contains("BroadcastRangeJoin"), s"range-join rewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to an all-pairs plan:\n$p")
  }

  test("band join: equi-join on buckets, never a nested-loop/cartesian; equals theta") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val a = (1 to 300).map(i => (i.toLong, r.nextDouble() * 10)).toDF("id_a", "va")
    val b = (1 to 300).map(i => (i.toLong, r.nextDouble() * 10)).toDF("id_b", "vb")
    val band = operators.Regions.bandJoin(a,
      org.apache.spark.sql.functions.col("va"), b,
      org.apache.spark.sql.functions.col("vb"), delta = 0.02)
    val p = plan(band)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join degraded to an all-pairs plan:\n$p")
    val got = band.select("id_a", "id_b").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val naive = a.crossJoin(b)
      .filter(org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.col("va") -
          org.apache.spark.sql.functions.col("vb")) <= 0.02)
      .select("id_a", "id_b").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(got == naive, "bucket rewrite must find exactly the theta pairs")
    assert(band.count() == band.dropDuplicates("id_a", "id_b").count(),
      "each pair must match exactly once")
  }

  test("bucketed tables sort-merge join with NO exchange (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS b1")
    spark.sql("DROP TABLE IF EXISTS b2")
    for (t <- Seq("b1", "b2")) { // clear stale managed-table locations
      val d = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    graft.sinks.Bucketed.writeBucketed(Tables(spark, sf, "orders"),
      "b1", "o_custkey", buckets = 8, sortCols = Seq("o_custkey"))
    graft.sinks.Bucketed.writeBucketed(Tables(spark, sf, "customer"),
      "b2", "c_custkey", buckets = 8, sortCols = Seq("c_custkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = graft.sinks.Bucketed.colocatedJoin(spark, "b1", "b2",
        "o_custkey", "c_custkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      // control: identical join over the raw (unbucketed) frames DOES
      // shuffle — the bucket layout, not data size, removed the exchanges
      val control = Tables(spark, sf, "orders").join(
        Tables(spark, sf, "customer"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      assert(control.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"), "control join did not shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("whole-stage codegen covers the scan→filter→aggregate spine") {
    val df = queries.Relational.a1SumByFlagStatus(spark, sf)
    df.collect() // AQE finalizes the plan (and codegen spans) on execution
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with the `*(stageId)` prefix
    assert(p.contains("*(1) HashAggregate"), s"hot path fell out of codegen:\n$p")
  }

  /** Walks executed plans through AQE's final plan and query stages. */
  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = Aqe.collect(p) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  /** Partition-local sorts straight over one partition: the shapes
    * [[graft.plans.OneTaskSort]] plans an ordered one-file frame as, over
    * a coalesce or over an exchange into one partition. */
  private def oneTaskSorts(p: SparkPlan): Seq[SparkPlan] = Aqe.collect(p) {
    case s: SortExec if !s.global && (coalescedToOne(s.child) || exchangedToOne(s.child)) => s
  }

  private def coalescedToOne(p: SparkPlan): Boolean = p match {
    case c: CoalesceExec => c.numPartitions == 1
    case InputAdapter(c) => coalescedToOne(c)
    case _ => false
  }

  /** Whether `p` reads an exchange into one partition. */
  private def exchangedToOne(p: SparkPlan): Boolean = p match {
    case InputAdapter(c) => exchangedToOne(c)
    case r: AQEShuffleReadExec => exchangedToOne(r.child)
    case s: ShuffleQueryStageExec => exchangedToOne(s.plan)
    case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
    case _ => false
  }

  /** The hash keys of every shuffle exchange in `p`, by column name. */
  private def hashKeys(p: SparkPlan): Seq[Seq[String]] = Aqe.collect(p) {
    case ShuffleExchangeExec(h: HashPartitioning, _, _, _) =>
      h.expressions.map { case a: Attribute => a.name; case e => e.sql }
  }

  /** Whether `p` writes files into a directory named `dir`. */
  private def writesTo(p: SparkPlan, dir: String): Boolean = Aqe.collect(p) {
    case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i.outputPath
  }.exists(_.getName == dir)

  /** Whether `p` scans files under a directory named `dir`. */
  private def scans(p: SparkPlan, dir: String): Boolean = Aqe.collect(p) {
    case s: FileSourceScanExec => s.relation.location.rootPaths
  }.flatten.exists(_.getName == dir)

  /** The executed plan of every action `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("GISAID spine: the ordered one-file frames sort in one task, no range exchange") {
    import spark.implicits._
    val in = "/tmp/graft_plan_spine.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in), Seq(
      "EPI_1" -> "MLVFLVLLPLVSS", "EPI_2" -> "MLVFLVLLPLVSS",
      "EPI_3" -> "MFLVLLPLVSS", "EPI_4" -> "MFVFLVLLPLKVSS").map { case (acc, seq) =>
        s">Spike|iso/$acc|2021-01-01|$acc|o|l|Human\n$seq\n" }.mkString)
    val out = "/tmp/graft_plan_spine_out"
    Pipeline.prepare(spark, in, out, refLenByProtein = Map("Spike" -> 13),
      lengthDelta = 3, ambiguityCutoff = 0.1)
    val msaPath = "/tmp/graft_plan_spine_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath),
      """>clust0;size=1;
        |MFVFLVLLPL-VSS
        |>Uniq1;size=2;
        |MLVFLVLLPL-VSS
        |>Uniq2;size=1;
        |MF--LVLLPL-VSS
        |>Uniq3;size=1;
        |MFVFLVLLPLKVSS
        |""".stripMargin)
    val clusterMap = Seq(("WIV04-ref", "clust0"), ("EPI_1", "Uniq1"),
      ("EPI_2", "Uniq1"), ("EPI_3", "Uniq2"), ("EPI_4", "Uniq3"))
      .toDF("accession", "cluster_id")
    val meta = Seq(("EPI_1", "2021-01-03", "Europe"), ("EPI_2", "2021-01-05", "Asia"),
      ("EPI_3", "2021-01-12", "Europe"), ("EPI_4", "2021-01-13", "Asia"))
      .toDF("accession", "date", "region")

    val msaPlans = executedPlans {
      Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref", meta, clusterMap, out)
    }
    val plans = msaPlans ++ executedPlans {
      Pipeline.stageCounts(spark, in, out, metaWithVariants = Map("Spike" -> meta),
        weeklyMatrix = Map("Spike" -> graft.sinks.Sinks.readCsv(spark,
          s"$out/weekly_matrix", graft.operators.VariantTimeSeries.WeeklyMatrixSchema)),
        trimHead = 1).collect()
    }
    val ranged = plans.filter(rangeExchanges(_).nonEmpty)
    assert(ranged.isEmpty, s"range exchanges left in the spine:\n${ranged.mkString("\n")}")
    // info_by_cluster, all_by_code, per_position, pymol, weekly_matrix,
    // weekly_combos and the stage counts
    val sorted = plans.count(oneTaskSorts(_).nonEmpty)
    assert(sorted >= 7, s"only $sorted one-task sorts in:\n${plans.mkString("\n")}")

    // the weekly matrix crosses one data exchange, on (region, week_start),
    // as keys with no code list: no exchange is keyed on its codes
    val matrix = msaPlans.filter(writesTo(_, "weekly_matrix"))
    assert(matrix.size == 1, s"${matrix.size} weekly_matrix writes in:\n${msaPlans.mkString("\n")}")
    val keys = hashKeys(matrix.head)
    assert(!keys.exists(_.contains("code")), s"an exchange keyed on code:\n${matrix.head}")
    assert(keys.count(_ == Seq("region", "week_start")) == 1,
      s"not one (region, week_start) exchange in $keys:\n${matrix.head}")
    // the stage that reads the (region, week_start) exchange counts,
    // explodes and aggregates in parallel: an exchange into one partition,
    // not a coalesce, feeds the writing task
    val intoOne = Aqe.collect(matrix.head) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(intoOne.size == 1 && hashKeys(intoOne.head).contains(Seq("region", "week_start")),
      s"the (region, week_start) stage is not separated from the writing task:\n${matrix.head}")
    // the heatmap's week list and pivot read the one-file matrix in one
    // partition and shuffle nothing
    val heatmap = msaPlans.filter(scans(_, "weekly_matrix"))
    assert(heatmap.size == 2, s"${heatmap.size} heatmap collects")
    val shuffled = heatmap.filter(Aqe.collect(_) { case e: ShuffleExchangeExec => e }.nonEmpty)
    assert(shuffled.isEmpty, s"heatmap collects that shuffle:\n${shuffled.mkString("\n")}")
  }

  test("an ordered one-file frame over a scan keeps its range exchange and parallel scan") {
    val path = "/tmp/graft_plan_sorted_scan"
    val data = spark.range(0, 4000, 1, 4).selectExpr("id", "id % 97 AS k")
    data.write.mode("overwrite").parquet(path)
    val scan = spark.read.parquet(path)
    val scanParts = scan.rdd.getNumPartitions
    assert(scanParts > 1, "the fixture must scan in several partitions")
    spark.sql("DROP TABLE IF EXISTS sorted_scan_b")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File("/tmp/graft_warehouse/sorted_scan_b"))
    graft.sinks.Bucketed.writeBucketed(data, "sorted_scan_b", "k", buckets = 4)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    // a bare scan, and an aggregate that reads its bucketed input with no
    // exchange: either sorted in one task would scan in that task
    try for ((ordered, parallel) <- Seq(
        scan.orderBy("k", "id").coalesce(1) -> scanParts,
        spark.table("sorted_scan_b").groupBy("k").count().orderBy("k").coalesce(1) -> 4)) {
      stageTasks.clear()
      assert(ordered.collect().nonEmpty)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      val p = ordered.queryExecution.executedPlan
      assert(rangeExchanges(p).nonEmpty && oneTaskSorts(p).isEmpty,
        s"this sort must keep its range exchange:\n$p")
      assert(stageTasks.asScala.exists(_ == parallel),
        s"no stage scanned the $parallel partitions in parallel: ${stageTasks.asScala}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("orderBy + coalesce(1) over an aggregate equals the global sort row for row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val rng = new scala.util.Random(5)
    val df = Seq.fill(5000)((rng.nextInt(300), rng.nextInt(1000))).toDF("k", "v")
      .repartition(6)
    val agg = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val ordered = agg.orderBy(col("n").desc, col("k"))
    val oneFile = ordered.coalesce(1)
    assert(oneFile.collect().toSeq == ordered.collect().toSeq)
    val p = oneFile.queryExecution.executedPlan
    assert(rangeExchanges(p).isEmpty && oneTaskSorts(p).nonEmpty,
      s"expected a one-task sort:\n$p")
  }

  test("orderBy + coalesce(1) over an aggregate on clustered rows keeps that stage parallel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val rng = new scala.util.Random(7)
    val df = Seq.fill(5000)((rng.nextInt(40), rng.nextInt(30), rng.nextInt(1000)))
      .toDF("k", "j", "v").repartition(3)
    // the aggregate on (k, j) plans no exchange of its own: the
    // repartition on k already clusters its rows
    val agg = df.repartition(6, col("k")).groupBy("k", "j")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    val ordered = agg.orderBy(col("n").desc, col("k"), col("j"))
    val oneFile = ordered.coalesce(1)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try assert(oneFile.collect().toSeq == ordered.collect().toSeq)
    finally {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val p = oneFile.queryExecution.executedPlan
    assert(rangeExchanges(p).isEmpty && oneTaskSorts(p).nonEmpty,
      s"expected a one-task sort:\n$p")
    assert(oneTaskSorts(p).forall(s => exchangedToOne(s.children.head)),
      s"the aggregate's stage was coalesced into the sorting task:\n$p")
    assert(stageTasks.asScala.exists(_ == 6),
      s"no stage read the 6 clustered partitions in parallel: ${stageTasks.asScala}")
  }
}
