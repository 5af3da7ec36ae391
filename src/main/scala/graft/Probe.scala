package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Developer probe CLI: one entry point for the measurements behind
  * SCALE.md, PLANS.md and the optimization rounds' query timings, with
  * one session set-up, query lookup and clock, so runs are recorded the
  * same way whichever question they answer. Commands ([[usage]]):
  *  - `run`: one registered query's rows (`ROW:` lines, then `COUNT:`) —
  *    the inner loop for authoring a query ([[Verify]] replays all);
  *  - `time`: the bench's methodology for a few queries (collect(), min
  *    of warm reps after one untimed warmup); `--noop` times the noop
  *    sink instead, separating compute from row materialization;
  *  - `plan`: regenerate PLANS.md ([[ProbePlans]]), or, given a tag and
  *    queries, write each one's formatted plan to
  *    `plans/<round>/<query>_<tag>.txt` for before/after plan claims;
  *  - `drift`: the drift protocol ([[drift]]);
  *  - `scale`: the scale probe's groups and stages ([[ProbeScale]]).
  * Flags go anywhere; positionals are read with them stripped, so a
  * `--noop` in the reps position is a flag, never a rep count. */
object Probe {

  sealed trait Command
  final case class Run(query: String, sfDir: String, maxRows: Int) extends Command
  final case class Time(queries: Seq[String], sfDir: String, reps: Int, noop: Boolean) extends Command
  case object PlansMd extends Command
  final case class Snapshot(tag: String, queries: Seq[String], sfDir: String, round: String) extends Command
  final case class Drift(query: String, reps: Int, sfDir: String) extends Command
  final case class Scale(nSeqs: Int, nDocs: Int, selected: Seq[String]) extends Command
  case object ScaleList extends Command

  val usage: String =
    """usage: runMain graft.Probe <command> …
      |  run <query> [sfDir] [maxRows]
      |  time <q1,q2,...> [sfDir] [reps] [--noop]
      |  plan [<tag> <q1,q2,...> [sfDir] [round]]
      |  drift [query] [reps] [sfDir]
      |  scale [nSeqs] [nDocs] [group|stage …] [--list]""".stripMargin

  private val testdata = "/root/testdata" // the scale-factor tables (TESTDATA.md)
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$usage")

  /** `names`, failing with the ones not in `known`. */
  private def check(what: String, known: String => Boolean)(names: Seq[String]) = {
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) fail(s"unknown $what: ${unknown.mkString(", ")}")
    names
  }

  private val knownQueries = check("queries", SparkEntry.queries.contains) _
  private def queryNames(csv: String) = knownQueries(csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  private def query(name: String) = knownQueries(Seq(name)).head

  /** Pure argument parsing: no session is started here. */
  def parse(args: Seq[String]): Command = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val allowed = pos.headOption.flatMap(Map("time" -> "--noop", "scale" -> "--list").get)
    flags.filterNot(allowed.contains).foreach(f => fail(s"unknown flag '$f'"))
    def int(arg: Option[String], default: Int): Int = arg.fold(default)(s =>
      s.toIntOption.getOrElse(fail(s"'$s' is not a number")))
    pos.headOption match {
      case Some("run") =>
        Run(query(pos.lift(1).getOrElse(fail("run needs a query"))),
          pos.lift(2).getOrElse(s"$testdata/sf0.01"),
          int(pos.lift(3), 1000))
      case Some("time") =>
        Time(queryNames(pos.lift(1).getOrElse(fail("time needs queries"))),
          pos.lift(2).getOrElse(s"$testdata/sf0.1"), int(pos.lift(3), 3),
          flags.contains("--noop"))
      case Some("plan") if pos.size == 1 => PlansMd
      case Some("plan") =>
        Snapshot(pos(1),
          queryNames(pos.lift(2).getOrElse(fail("plan <tag> needs queries"))),
          pos.lift(3).getOrElse(s"$testdata/sf0.001"),
          pos.lift(4).getOrElse("r15"))
      case Some("drift") =>
        Drift(query(pos.lift(1).getOrElse("h2_shape_min_cost_supplier")),
          int(pos.lift(2), 12), pos.lift(3).getOrElse(s"$testdata/sf0.1"))
      case Some("scale") if flags.contains("--list") => ScaleList
      case Some("scale") =>
        val (sizes, names) = pos.tail.span(_.forall(_.isDigit))
        if (sizes.size > 2) fail("scale takes at most two sizes: [nSeqs] [nDocs]")
        check("scale groups or stages",
          ProbeScale.listing.flatMap { case (g, s) => Seq(g, s) }.toSet)(names)
        Scale(int(sizes.lift(0), 200000), int(sizes.lift(1), 100000), names)
      case Some(other) => fail(s"unknown command '$other'")
      case None => fail("no command")
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case ScaleList => run(null, ScaleList) // listing starts no session
    case cmd =>
      val spark = GraftSession.local("graft-probe")
      try run(spark, cmd) finally spark.stop()
  }

  /** Runs a parsed command on `spark`, printing its results. */
  def run(spark: SparkSession, cmd: Command): Unit = cmd match {
    case Run(name, sfDir, maxRows) =>
      val rows = SparkEntry.queries(name)(spark, sfDir).limit(maxRows + 1).collect()
      val shown = rows.take(maxRows)
      shown.foreach(r => println("ROW:" + r.mkString(",")))
      println(s"COUNT:${shown.length}" +
        (if (rows.length > maxRows) s" (truncated at $maxRows; more exist)"
         else ""))
    case t: Time => time(spark, t)
    case PlansMd => ProbePlans.write(spark)
    case Snapshot(tag, names, sfDir, round) =>
      val dir = Files.createDirectories(Paths.get(s"plans/$round"))
      names.foreach { name =>
        val txt = formatted(SparkEntry.queries(name)(spark, sfDir))
        Files.writeString(dir.resolve(s"${name}_$tag.txt"), txt)
        println(s"wrote plans/$round/${name}_$tag.txt (${txt.length} chars)")
      }
    case d: Drift => drift(spark, d)
    case Scale(nSeqs, nDocs, selected) =>
      ProbeScale.run(spark, nSeqs, nDocs, selected)
    case ScaleList =>
      ProbeScale.listing.foreach { case (g, s) => println(s"$g $s") }
  }

  /** `explain("formatted")` text of a query's plan. */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** Evaluates `f`, returning its value and the wall seconds it took. */
  def clock[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed rep of a registered query as Bench times it: building the
    * frame and its action (collect(), or the noop sink) under one clock.
    * Returns seconds, GC ms and Janino compiles. */
  private def rep(spark: SparkSession, name: String, sfDir: String,
      noop: Boolean = false): (Double, Long, Long) = {
    spark.sparkContext.setJobDescription(name)
    val g0 = Bench.gcMillis(); val c0 = Bench.codegenCompiles()
    val (_, sec) = clock {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (noop) df.write.format("noop").mode("overwrite").save()
      else df.collect(): Unit
    }
    (sec, Bench.gcMillis() - g0, Bench.codegenCompiles() - c0)
  }

  private def time(spark: SparkSession, t: Time): Unit = {
    SparkEntry.entry(spark).count() // session/codegen warmup
    t.queries.foreach { name =>
      rep(spark, name, t.sfDir, t.noop) // untimed warmup rep (codegen compile)
      val ts = (1 to t.reps).map(_ => rep(spark, name, t.sfDir, t.noop)._1)
      def fmt(d: Double) = f"$d%.3f"
      println(s"TIME:$name min=${fmt(ts.min)} reps=[" +
        ts.map(fmt).mkString(",") + s"] action=${if (t.noop) "noop" else "collect"}")
    }
  }

  /** Drift protocol (VERDICT r14 task #1, and the r12–13 codegen-cache
    * adjudication of d_minhash_neardups): tells "a query's floor rises as
    * the session accumulates state" (structural — registry growth,
    * old-gen creep, generated-class cache churn) from "the whole host is
    * slower this session" (environmental). One JVM:
    *   A. capacity probes (1-thread spin, 32-thread spin, memory stream);
    *   B. `reps` consecutive reps of the target, each with its GC,
    *      Janino-compile and heap counters — the first rep pays the
    *      query's codegen, the rest show whether it stays cached;
    *   C. one sweep of every other headline query (the state a real
    *      bench session accumulates between one query's reps);
    *   D. `reps` more reps of the target, same counters — the first one
    *      is the round-robin bench's view;
    *   E. probes again.
    * If min(D) ≈ min(B), nothing the session accumulated taxes the query
    * and any drift is host-side (the probes say which axis). If min(D) >
    * min(B) with GC or compiles up, the session itself is the cause. */
  private def drift(spark: SparkSession, d: Drift): Unit = {
    SparkEntry.entry(spark).count() // session/codegen warmup
    def probes(tag: String): Unit = println(f"[probe $tag] cal1=${Bench.calibrate()}%.3f " +
      f"calp=${Bench.calibrateParallel()}%.3f calm=${Bench.calibrateMemory()}%.3f")
    def block(tag: String): Double = {
      val secs = (1 to d.reps).map { i =>
        val rt = Runtime.getRuntime
        val heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
        val (sec, gcMs, compiles) = rep(spark, d.query, d.sfDir)
        println(f"[$tag rep$i%02d] $sec%.3f s heap0=${heapMb}MB gc=+${gcMs}ms compiles=+$compiles")
        sec
      }
      println(f"[$tag] min=${secs.min}%.3f")
      secs.min
    }
    probes("start")
    val early = block("cold")
    val (_, sweepSec) = clock(SparkEntry.headline.filterNot(_ == d.query).sorted
      .foreach { q =>
        try rep(spark, q, d.sfDir)
        catch { case e: Exception => println(s"[sweep-err] $q: ${e.getMessage.take(80)}") }
      })
    println(f"[sweep] every other headline query once in $sweepSec%.1f s")
    probes("mid")
    val late = block("late")
    probes("end")
    println(f"""{"metric":"drift_profile","query":"${d.query}","early_min":$early%.3f,"late_min":$late%.3f,"ratio":${late / early}%.3f}""")
  }
}
