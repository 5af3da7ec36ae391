package graft

/** Developer utility for optimization rounds: time a FEW registered
  * queries in isolation with the bench's exact methodology (collect(),
  * min of warm reps after one untimed warmup), so a candidate change can
  * be measured without paying for a full 57-query sweep.
  *
  * Per the optimization guide §1.4 a `--noop` flag switches the timed
  * action to the noop sink (computes every column, discards rows) — use
  * it to separate compute cost from collect/row-materialization cost.
  *
  * Usage: runMain graft.QueryTimer <q1,q2,...> [sfDir] [reps] [--noop]
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    // flags go anywhere; the positionals are read with them stripped
    val (flags, pos) = args.partition(_.startsWith("--"))
    val names = pos.headOption.getOrElse(sys.error(
      "usage: QueryTimer <q1,q2,...> [sfDir] [reps] [--noop]"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = pos.lift(2).map(_.toInt).getOrElse(3)
    val noop = flags.contains("--noop")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.local("graft-query-timer")
    SparkEntry.entry(spark).count() // session/codegen warmup
    def runOnce(name: String): Double = {
      spark.sparkContext.setJobDescription(name)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      if (noop) df.write.format("noop").mode("overwrite").save()
      else df.collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      runOnce(name) // untimed warmup rep (codegen compile)
      val ts = (1 to reps).map(_ => runOnce(name))
      def fmt(d: Double) = f"$d%.3f"
      println(s"TIME:$name min=${fmt(ts.min)} reps=[" +
        ts.map(fmt).mkString(",") + s"] action=${if (noop) "noop" else "collect"}")
    }
    spark.stop()
  }
}
