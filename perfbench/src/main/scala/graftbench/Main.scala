package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Operations one pass attempted, how many of them failed, and the wall
  * seconds of each by name. */
final case class Ops(attempted: Int, failed: Int, seconds: Map[String, Double] = Map.empty) {
  def +(o: Ops): Ops = Ops(attempted + o.attempted, failed + o.failed, seconds ++ o.seconds)
}

object Ops {
  /** `f`'s result and its wall seconds. */
  def clock[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** What the traced run replays as named spans: seeded inputs and a pass as
  * the sequence of layer calls the program makes, each forced on its own
  * inside a span (by an eager local checkpoint, whose blocks then feed the
  * next call, so no span re-runs an earlier one's plan). */
trait Replayed {
  def name: String
  /** Module spans the replay records, in the order it records them. */
  def spanNames: Seq[String]
  /** Write the seeded inputs under `dir` with plain JVM IO. */
  def generate(seed: Long, dir: String): Unit
  def replay(spark: SparkSession, outDir: String, spans: Spans): Unit
  /** The operations the replay counts (attempted and failed), and the
    * problems found in what it wrote to `outDir`. */
  def checkReplay(spark: SparkSession, outDir: String): (Ops, Seq[String]) = (Ops(0, 0), Nil)
}

/** One benchmark workload: a timed pass through graft's public entry
  * points over the seeded inputs, output checks made apart from the
  * program, and a span replay for the traced run. */
trait Workload extends Replayed {
  /** Timed passes of every run. A run makes more only when these end
    * before `--seconds` have passed, which BENCHMARK.json's run_seconds
    * keeps from happening, so every run times the same passes, at the
    * same point of the JIT's warm-up, whatever the host's speed. */
  def timedPasses: Int
  /** Input items one pass processes, the numerator of items_per_s. */
  def items: Long
  def pass(spark: SparkSession, outDir: String): Ops
  /** Problems found in the outputs of the pass written to `outDir`. */
  def check(spark: SparkSession, outDir: String): Seq[String]
}

final case class PassStats(wallS: Double, shuffleBytes: Long,
    pinnedBytes: Long, leakedBytes: Long, ops: Ops, dir: String)

object Main {
  /** Everything the traced run replays, in this order after its own
    * workload, so every per-layer metric is present whichever workload is
    * traced. `llm_curate` is replayed only (see [[LlmCurate]]). */
  private val ReplayOrder: Seq[String] = Seq("gisaid_spine", "headline_queries", "llm_curate")
  /** Fixed warm-up passes before timing (they pay Janino compiles and JIT). */
  private val Warmups = 1
  private val MB = 1e6

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = o("launch-ms").toLong
    val seed = o("seed").toLong
    val work = o("work")
    val make: Map[String, () => Replayed] = Map(
      "gisaid_spine" -> (() => new GisaidSpine),
      "headline_queries" -> (() => new HeadlineQueries(o("data"), s"$work/headline_out")),
      "llm_curate" -> (() => new LlmCurate))
    val wl = make(o("workload"))() match {
      case w: Workload => w
      case r => throw new IllegalArgumentException(s"${r.name} is replayed only, not a workload")
    }
    val others = if (o("trace") == "1")
      ReplayOrder.filter(_ != wl.name).map(make(_)()) else Nil
    (wl +: others).foreach(w => w.generate(seed, s"$work/input/${w.name}"))

    val spark = GraftSession.builder("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .master(s"local[${GraftSession.cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new EngineCounters
    spark.sparkContext.addSparkListener(counters)
    val runner = new Runner(spark, counters, s"$work/out")

    System.err.println(f"[perfbench] session up at ${(System.currentTimeMillis() - launchMs) / 1e3}%.1f s")
    val compiles0 = Trace.compiles()
    val warm = (1 to Warmups).map { _ => val st = runner.pass(wl); runner.discard(st); st.wallS }
    val warmupCompiles = Trace.compiles() - compiles0
    System.err.println(s"[perfbench] ${wl.name} warm-up passes(s): " + warm.map(w => f"$w%.3f").mkString(" "))

    val (metrics, ops, problems) =
      if (o("trace") == "1")
        traced(spark, runner, wl, others, warmupCompiles, s"${o("traces")}/${wl.name}-seed$seed.json")
      else timed(spark, runner, wl, o("seconds").toDouble, launchMs)

    val line = Json.obj(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> ops.attempted.toString, "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit)) }: _*),
      "problems" -> Json.arr(problems.map(Json.str)))
    spark.stop()
    println("PERFBENCH_RESULT " + line)
  }

  private type Metrics = Seq[(String, (Double, String))]

  /** Untraced run: warm passes timed for `seconds`, outputs of the last
    * pass checked. */
  private def timed(spark: SparkSession, runner: Runner, wl: Workload,
      seconds: Double, launchMs: Long): (Metrics, Ops, Seq[String]) = {
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val stats = mutable.ArrayBuffer.empty[PassStats]
    val t0 = System.nanoTime()
    while (stats.size < wl.timedPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      stats.lastOption.foreach(runner.discard)
      stats += runner.pass(wl)
      System.err.println(f"[perfbench] pass ${stats.size} ${stats.last.wallS}%.3f s: " +
        stats.last.ops.seconds.toSeq.sorted.map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
    }
    val fastest = stats.flatMap(_.ops.seconds).groupMapReduce(_._1)(_._2)(math.min)
    System.err.println(s"[perfbench] ${wl.name} passes(s): " +
      stats.map(s => f"${s.wallS}%.3f").mkString(" ") + "; fastest operations(s): " +
      fastest.toSeq.sortBy(-_._2).map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
    val problems = wl.check(spark, stats.last.dir)
    val metrics: Metrics = Seq(
      "setup_s" -> (setupS, "s"),
      // each operation at its fastest timed run: contention on a shared
      // host only slows an operation, so the minimum is the steadiest
      // figure of a few runs, and a burst that slows one operation of one
      // pass does not count for the others
      "items_per_s" -> (wl.items / fastest.values.sum, "1/s"),
      "shuffle_mb" -> (median(stats.map(_.shuffleBytes / MB)), "MB"),
      "pinned_mb" -> (median(stats.map(_.pinnedBytes / MB)), "MB"))
    (metrics, stats.map(_.ops).reduce(_ + _), problems)
  }

  /** Traced run: one pass of `wl` with the engine listeners on, then the
    * span replay of `wl` (warm) and of the others in [[ReplayOrder]] (cold:
    * they get no warm-up pass of their own, so their spans include their
    * first compiles). The replays' outputs are checked too. */
  private def traced(spark: SparkSession, runner: Runner, wl: Workload,
      others: Seq[Replayed], warmupCompiles: Long,
      traceFile: String): (Metrics, Ops, Seq[String]) = {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    PerfbenchBus.drain(spark.sparkContext)
    tracer.reset()
    val (c0, cn0, gc0) = (Trace.compiles(), Trace.compileNanos(), Trace.gcMillis())
    val startMs = System.currentTimeMillis()
    val st = runner.pass(wl, release = false)
    val endMs = startMs + math.round(st.wallS * 1000)
    val (c1, cn1, gc1) = (Trace.compiles(), Trace.compileNanos(), Trace.gcMillis())
    val pt = tracer.summarize(startMs, endMs)
    runner.release()
    val problems = mutable.ArrayBuffer.from(wl.check(spark, st.dir))
    runner.discard(st)

    val spans = new Spans
    var ops = st.ops
    for (r <- wl +: others) {
      val t0 = System.nanoTime()
      val dir = runner.freshDir(s"${r.name}-replay")
      r.replay(spark, dir, spans)
      val (replayOps, replayProblems) = r.checkReplay(spark, dir)
      ops += replayOps
      problems ++= replayProblems.map(p => s"${r.name} replay: $p")
      runner.release()
      runner.deleteDir(dir)
      System.err.println(f"[perfbench] ${r.name} replay ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val self = spans.selfSeconds
    val engine: Metrics = Seq(
      "engine.pass_ms" -> (pt.wallMs, "ms"),
      "engine.coordinator_ms" -> (pt.coordinatorMs, "ms"),
      "engine.plan_ms" -> (pt.planMs, "ms"),
      "engine.codegen_compiles" -> ((c1 - c0).toDouble, "count"),
      "engine.codegen_ms" -> ((cn1 - cn0) / 1e6, "ms"),
      "engine.warmup_compiles" -> (warmupCompiles.toDouble, "count"),
      "engine.actions" -> (pt.actions.size.toDouble, "count"),
      "engine.jobs" -> (pt.jobs.toDouble, "count"),
      "engine.stages" -> (pt.stages.toDouble, "count"),
      "engine.tasks" -> (pt.tasks.toDouble, "count"),
      "engine.task_ms" -> (pt.taskMs, "ms"),
      "engine.task_cpu_ms" -> (pt.taskCpuMs, "ms"),
      "engine.gc_ms" -> ((gc1 - gc0).toDouble, "ms"),
      "engine.parallelism" -> (pt.taskSpanMs / pt.wallMs, "ratio"),
      "engine.shuffle_read_mb" -> (pt.shuffleReadBytes / MB, "MB"),
      "engine.spill_mb" -> (pt.spillBytes / MB, "MB"),
      "engine.input_mb" -> (pt.inputBytes / MB, "MB"),
      "engine.output_mb" -> (pt.outputBytes / MB, "MB"),
      "engine.leaked_mb" -> (st.leakedBytes / MB, "MB"))
    val spanMetrics: Metrics = (wl +: others).sortBy(r => ReplayOrder.indexOf(r.name))
      .flatMap(_.spanNames).map(n => n -> (self.getOrElse(n, 0.0), "s"))
    val metrics = engine ++ spanMetrics
    writeTrace(traceFile, wl, metrics, pt, spans)
    (metrics, ops, problems.toSeq)
  }

  private def writeTrace(path: String, wl: Workload, metrics: Metrics,
      pt: PassTrace, spans: Spans): Unit = {
    val actions = pt.actions.map(a => Json.obj(
      "execution_id" -> a.executionId.toString,
      "description" -> Json.str(a.description), "kind" -> Json.str(a.kind),
      "path" -> Json.str(a.path), "wall_ms" -> a.wallMs.toString,
      "phases_ms" -> Json.obj(a.phasesMs.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*),
      "jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
      "tasks" -> a.tasks.toString, "task_ms" -> a.taskMs.toString,
      "shuffle_write_bytes" -> a.shuffleWriteBytes.toString,
      "compiles" -> a.compiles.toString))
    val json = Json.obj(
      "workload" -> Json.str(wl.name),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "actions" -> Json.arr(actions),
      "spans" -> spans.toJson)
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, json.getBytes(UTF_8))
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs passes with fresh output directories and measures what a pass
  * leaves behind; releases cached and checkpointed blocks between passes,
  * outside timing. */
final class Runner(spark: SparkSession, counters: EngineCounters, outRoot: String) {
  private var n = 0

  def freshDir(tag: String): String = {
    n += 1
    val d = s"$outRoot/$tag-$n"
    deleteDir(d)
    d
  }

  def pass(wl: Workload, release: Boolean = true): PassStats = {
    val dir = freshDir(wl.name)
    PerfbenchBus.drain(spark.sparkContext)
    counters.resetPeak()
    val held0 = counters.heldBytes
    val shuffle0 = counters.shuffleBytes
    val t0 = System.nanoTime()
    val ops = wl.pass(spark, dir)
    val wallS = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(spark.sparkContext)
    val st = PassStats(wallS, counters.shuffleBytes - shuffle0,
      counters.peakBytes - held0, counters.heldBytes - held0, ops, dir)
    if (release) this.release()
    st
  }

  /** Drop every cached Dataset and persisted (or locally checkpointed) RDD. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    PerfbenchBus.drain(spark.sparkContext)
  }

  def discard(st: PassStats): Unit = deleteDir(st.dir)

  def deleteDir(d: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(d))
  }
}
