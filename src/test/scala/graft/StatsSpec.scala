package graft

import graft.operators.Stats
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("stats-spec")
  override def afterAll(): Unit = spark.stop()

  test("exact moments agree with built-ins to 1e-12 and are bit-stable across partitionings") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (if (i % 3 == 0) "a" else "b", i % 47, (i * 7) % 13))
    val df = rows.toDF("g", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.exactMoments(d, Seq(col("g")), col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6)))).toMap
    val out = run(df)
    // differential vs Spark's own floating aggregates (tolerance — their
    // merge order is plan-dependent, which is the point of this operator)
    val ref = df.groupBy("g").agg(
        avg("x"), var_samp("x"), stddev_samp("x"), corr("x", "y"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for ((g, (_, _, mean, varx, std, corr)) <- out) {
      assert(math.abs(mean - ref(g)._1) < 1e-12)
      assert(math.abs(varx - ref(g)._2) < 1e-10)
      assert(math.abs(std - ref(g)._3) < 1e-12)
      assert(math.abs(corr - ref(g)._4) < 1e-12)
    }
    // bit-identical under any physical layout: exact integer moments are
    // order-independent and the float tail is a fixed tree
    assert(run(df.repartition(13)) == out)
    assert(run(df.coalesce(1)) == out)
  }

  test("typed Aggregator face is bit-identical to the Column face") {
    import spark.implicits._
    val rows = (1L to 400L).map(i => (if (i % 2 == 0) "e" else "o", i % 31, (i * 3) % 17))
    val df = rows.toDF("g", "x", "y")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    val column = canon(Stats.exactMoments(df, Seq(col("g")), col("x"), col("y")))
    val typed = canon(Stats.exactMomentsTyped(df, col("g"), col("x"), col("y")))
    assert(typed == column, "the two faces must agree bit for bit")
    assert(canon(Stats.exactMomentsTyped(df.repartition(11), col("g"), col("x"), col("y")))
      == column, "aggregator merge must be layout-independent")
  }

  test("profile: exact per-column stats in one pass; typed (not lexicographic) min/max") {
    import spark.implicits._
    val df = Seq((9, Some("b"), "x"), (10, None, "y"), (2, Some("a"), "y"))
      .toDF("num", "maybe", "cat")
    val out = Stats.profile(df, Seq("num", "maybe", "cat"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    // numeric min/max: 2 < 9 < 10 — a lexicographic compare would say "10" < "2"
    assert(out("num") == ((3L, 0L, 3L, "2", "10")))
    assert(out("maybe") == ((3L, 1L, 2L, "a", "b")), "distinct must exclude nulls")
    assert(out("cat") == ((3L, 0L, 2L, "x", "y")))
  }

  test("null inputs: pairwise deletion keeps n consistent with the sums") {
    import spark.implicits._
    val df = Seq[(String, Option[Int], Option[Int])](
      ("g", Some(1), Some(2)), ("g", None, Some(9)), ("g", Some(3), None),
      ("g", Some(5), Some(4)), ("empty", None, None))
      .toDF("g", "x", "y")
    val out = Stats.exactMoments(df, Seq(col("g")), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    // only the two complete (x, y) rows count — n must match the sums
    assert(out("g").getLong(1) == 2L)
    assert(out("g").getLong(2) == 6L) // 1 + 5
    assert(out("g").getDouble(4) == 8.0) // var_samp of {1, 5}
    assert(!out.contains("empty"), "an all-null group has no complete pairs")
  }

  test("quantileProfile: exact order statistics, partition-invariant, long form") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (1 to 100).map(i => ("a", i)) ++
      (1 to 777).map(_ => ("b", rng.nextInt(10000)))
    val df = rows.toDF("g", "v")
    val probs = Seq(0.0, 0.25, 0.5, 0.95, 1.0)
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.quantileProfile(d, Seq(col("g")), col("v"), probs)
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("prob")) ->
          r.getAs[Int]("value")).toMap
    val out = run(df)
    // group "a" is 1..100: quantiles are known order statistics
    assert(out(("a", 0.0)) == 1 && out(("a", 1.0)) == 100)
    assert(out(("a", 0.5)) == 50 && out(("a", 0.25)) == 25)
    // accuracy (10k) ≥ n: the sketch is EXACT, so any partitioning of the
    // same rows returns identical elements — the mergeability contract
    assert(run(df.repartition(13)) == out)
    assert(out.keySet.map(_._1) == Set("a", "b") &&
      out.size == 2 * probs.size)
    // every reported value is a dataset element of its group (discrete
    // quantile, never an interpolation)
    val bVals = rows.collect { case ("b", v) => v }.toSet
    probs.foreach(p => assert(bVals.contains(out(("b", p)))))
  }

  test("single-row group: null variance and corr, not a divide-by-zero") {
    import spark.implicits._
    val df = Seq(("solo", 5, 2), ("pair", 1, 1), ("pair", 3, 9)).toDF("g", "x", "y")
    val out = Stats.exactMoments(df, Seq(col("g")), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("solo").isNullAt(4) && out("solo").isNullAt(5) && out("solo").isNullAt(6))
    assert(out("pair").getDouble(4) == 2.0) // var_samp of {1,3}
    // constant-x group: zero variance → corr undefined (null)
    val const = Seq(("c", 4, 1), ("c", 4, 2)).toDF("g", "x", "y")
    val c = Stats.exactMoments(const, Seq(col("g")), col("x"), col("y")).collect()(0)
    assert(c.getDouble(4) == 0.0 && c.isNullAt(6))
  }

  test("incremental rollup: merged batch partials == one-shot, bit for bit, any slicing") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 3000).map(i =>
      (s"g${i % 5}", rng.nextInt(1000), rng.nextInt(100), i))
    val df = rows.toDF("g", "x", "y", "i")
    val whole = Stats.exactMoments(df, Seq(col("g")), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

    // three arbitrary, uneven batch slicings — including one where some
    // groups are entirely absent from a batch
    val slicings = Seq(
      Seq(col("i") % 2 === 0, col("i") % 2 === 1),
      Seq(col("i") < 100, col("i") >= 100),
      Seq(col("g") === "g0", col("g") =!= "g0"))
    slicings.foreach { preds =>
      val partials = preds.map(p =>
        Stats.momentPartials(df.filter(p), Seq(col("g")), col("x"), col("y")))
      val merged = Stats.momentsFromPartials(
          Stats.mergeMomentPartials(partials, Seq("g")))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(merged == whole,
        s"incremental != one-shot under slicing $preds")
    }
  }

  test("groupOls: matches a naive fit; degenerate groups yield nulls; bit-stable") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1L to 600L).map { i =>
      val g = s"g${i % 3}"
      val x = rnd.nextInt(50).toLong
      // y correlates with x plus noise so slope/r2 are non-trivial
      (g, x, 3 * x + rnd.nextInt(20).toLong)
    } ++ Seq(("vert", 7L, 1L), ("vert", 7L, 5L), // constant x → null fit
      ("one", 4L, 9L)) // single row → null fit
    val df = rows.toDF("g", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.groupOls(d, Seq(col("g")), col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
            Option(r.get(4))))).toMap
    val out = run(df)
    assert(out("vert")._2.isEmpty && out("vert")._3.isEmpty)
    assert(out("one")._2.isEmpty)
    // naive per-group least squares in the driver
    for (g <- Seq("g0", "g1", "g2")) {
      val pts = rows.filter(_._1 == g).map(t => (t._2.toDouble, t._3.toDouble))
      val n = pts.length.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy * sxx - sx * sxy) / (n * sxx - sx * sx)
      val r2 = math.pow(n * sxy - sx * sy, 2) /
        ((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(math.abs(out(g)._2.get.asInstanceOf[Double] - slope) < 1e-9)
      assert(math.abs(out(g)._3.get.asInstanceOf[Double] - intercept) < 1e-9)
      assert(math.abs(out(g)._4.get.asInstanceOf[Double] - r2) < 1e-9)
    }
    // integer moments + fixed float tail ⇒ identical under any layout
    assert(run(df.repartition(11)) == out)
    assert(run(df.coalesce(1)) == out)
    // incremental face: merged batch partials finalize bit-identically
    val partials = Seq(col("x") % 2 === 0, col("x") % 2 === 1).map(p =>
      Stats.momentPartials(df.filter(p), Seq(col("g")), col("x"), col("y")))
    val inc = Stats.olsFromPartials(
        Stats.mergeMomentPartials(partials, Seq("g")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    assert(inc == out, "incremental OLS != one-shot OLS")
  }

  test("chiSquare2x2: hand-computed cells and statistic; degenerate margin → null") {
    import spark.implicits._
    // classic textbook 2×2: a=10 b=20 c=30 d=40
    val rows = Seq.fill(10)(("x", "y")) ++ Seq.fill(20)(("x", "n")) ++
      Seq.fill(30)(("z", "y")) ++ Seq.fill(40)(("z", "n"))
    val df = rows.toDF("u", "v")
    val r = Stats.chiSquare2x2(df, col("u") === "x", col("v") === "y")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((10L, 20L, 30L, 40L, 100L)))
    // chi2 = 100·(400−600)² / (30·70·40·60) = 100·40000/5040000
    assert(math.abs(r.getDouble(5) - 100.0 * 40000.0 / 5040000.0) < 1e-12)
    // perfectly proportional table → chi2 exactly 0
    val ind = Seq.fill(10)(("x", "y")) ++ Seq.fill(20)(("x", "n")) ++
      Seq.fill(20)(("z", "y")) ++ Seq.fill(40)(("z", "n"))
    assert(Stats.chiSquare2x2(ind.toDF("u", "v"), col("u") === "x",
      col("v") === "y").collect()(0).getDouble(5) == 0.0)
    // empty column margin (no v=y at all) → null statistic
    val degen = Seq.fill(5)(("x", "n")) ++ Seq.fill(5)(("z", "n"))
    assert(Stats.chiSquare2x2(degen.toDF("u", "v"), col("u") === "x",
      col("v") === "y").collect()(0).isNullAt(5))
  }

  test("welchT: matches a naive two-sample computation; degenerate cohorts → null") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val rows = (1 to 500).map { i =>
      val a = i % 2 == 0
      // cohort A shifted up by ~3 so t is decidedly nonzero
      ("g" + (i % 3), a, (rnd.nextInt(20) + (if (a) 3 else 0)).toLong)
    }
    val df = rows.toDF("g", "cohort", "x")
    val out = Stats.welchT(df, Seq(col("g")), col("x"), col("cohort"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5))))).toMap
    for ((g, (n1, n2, m1, m2, tOpt)) <- out) {
      val as = rows.filter(r => r._1 == g && r._2).map(_._3.toDouble)
      val bs = rows.filter(r => r._1 == g && !r._2).map(_._3.toDouble)
      assert(n1 == as.length && n2 == bs.length)
      def mv(xs: Seq[Double]) = {
        val m = xs.sum / xs.length
        (m, xs.map(v => (v - m) * (v - m)).sum / (xs.length - 1))
      }
      val (ma, va) = mv(as); val (mb, vb) = mv(bs)
      assert(math.abs(m1 - ma) < 1e-9 && math.abs(m2 - mb) < 1e-9)
      val tRef = (ma - mb) / math.sqrt(va / as.length + vb / bs.length)
      assert(math.abs(tOpt.get.asInstanceOf[Double] - tRef) < 1e-9, s"$g")
    }
    // single-row cohort → null t; zero-variance both sides → null t
    val tiny = Seq(("t", true, 5L), ("t", false, 1L), ("t", false, 2L))
      .toDF("g", "cohort", "x")
    assert(Stats.welchT(tiny, Seq(col("g")), col("x"), col("cohort"))
      .collect()(0).isNullAt(5))
    val flat = Seq(("f", true, 4L), ("f", true, 4L), ("f", false, 4L),
      ("f", false, 4L)).toDF("g", "cohort", "x")
    assert(Stats.welchT(flat, Seq(col("g")), col("x"), col("cohort"))
      .collect()(0).isNullAt(5))
    // a group whose rows all fall in ONE cohort: the other side's mean
    // must be null (guarded), not the NaN a raw 0/0 division would emit
    val oneSided = Seq(("o", true, 4L), ("o", true, 7L))
      .toDF("g", "cohort", "x")
    val os = Stats.welchT(oneSided, Seq(col("g")), col("x"), col("cohort"))
      .collect()(0)
    assert(os.getLong(1) == 2L && os.getLong(2) == 0L)
    assert(os.getDouble(3) == 5.5)
    assert(os.isNullAt(4), "empty cohort's mean leaked as NaN")
    assert(os.isNullAt(5))
  }

  test("welch partials: merged batches == one-shot, bit for bit, any slicing") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 600).map { i =>
      ("g" + (i % 4), i % 2 == 0, (rnd.nextInt(25) + (if (i % 2 == 0) 2 else 0)).toLong, i)
    }
    val df = rows.toDF("g", "cohort", "x", "id")
    val oneShot = Stats.welchT(df, Seq(col("g")), col("x"), col("cohort"))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    // three different slicings, including one with an empty batch and
    // one whose batches don't all contain every group
    val slicings = Seq(
      Seq(col("id") % 2 === 0, col("id") % 2 === 1),
      Seq(col("id") < 3, col("id") >= 3 && col("id") < 590, col("id") >= 590),
      Seq(col("id") < 0, col("id") >= 0))
    for (slices <- slicings) {
      val partials = slices.map(p => Stats.welchPartials(df.filter(p),
        Seq(col("g")), col("x"), col("cohort")))
      val merged = Stats.welchFromPartials(
          Stats.mergeWelchPartials(partials, Seq("g")))
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      assert(merged == oneShot) // Row equality is bitwise per field
    }
  }

  test("theilSen: median pairwise slope, robust to one outlier, layout-exact") {
    import spark.implicits._
    // perfect line y = 3x + 1: every pairwise slope is 3
    val line = (0 until 10).map(i => ("l", i.toLong, 3L * i + 1))
    // same line with one wild outlier: the MEDIAN slope stays 3 (OLS would not)
    val dirty = line.map { case (_, x0, y0) => ("d", x0, y0) } :+ (("d", 10L, 1000L))
    val df = (line ++ dirty).toDF("g", "x", "y")
    val got = Stats.theilSen(df, Seq(col("g")), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got("l") == ((10L, 45L, Some(3.0))))
    assert(got("d")._3.contains(3.0), s"outlier dragged the slope: ${got("d")}")
    // naive differential on fuzzed data
    val rnd = new scala.util.Random(101)
    val fuzz = (0 until 30).map(i => ("f", i.toLong, rnd.nextInt(100).toLong))
    val fdf = fuzz.toDF("g", "x", "y")
    val pairs = for (i <- fuzz.indices; j <- i + 1 until fuzz.size
        if fuzz(j)._2 != fuzz(i)._2)
      yield (fuzz(j)._3 - fuzz(i)._3).toDouble / (fuzz(j)._2 - fuzz(i)._2)
    val ss = pairs.sorted
    val expect = if (ss.size % 2 == 1) ss(ss.size / 2)
      else (ss(ss.size / 2 - 1) + ss(ss.size / 2)) / 2
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.theilSen(d, Seq(col("g")), col("x"), col("y"))
        .collect()(0).getDouble(3)
    assert(run(fdf) == expect) // bitwise
    assert(run(fdf.repartition(7)) == expect)
    // all-equal x -> no valid pair -> null slope
    val vert = Seq(("v", 1L, 1L), ("v", 1L, 5L)).toDF("g", "x", "y")
    val vr = Stats.theilSen(vert, Seq(col("g")), col("x"), col("y")).collect()(0)
    assert(vr.getLong(2) == 0L && vr.isNullAt(3))
    // maxLen fail-fast
    val e = intercept[Exception] {
      Stats.theilSen(fdf, Seq(col("g")), col("x"), col("y"), maxLen = 5)
        .collect()
    }
    assert(e.getMessage.contains("maxLen") ||
      (e.getCause != null && e.getCause.getMessage.contains("maxLen")))
  }

  test("psi: hand-computed drift, ~0 for identical cohorts, null for empty, layout-exact") {
    import spark.implicits._
    // hand fixture: cohort A = {1,1,2,2}, B = {1,3,3,3}; edges (2,3) give
    // bins {<2, [2,3), >=3}: pA = (.5,.5,0->eps), pB = (.25,0->eps,.75)
    val rows = Seq(("g", true, 1L), ("g", true, 1L), ("g", true, 2L),
      ("g", true, 2L), ("g", false, 1L), ("g", false, 3L),
      ("g", false, 3L), ("g", false, 3L))
    val df = rows.toDF("g", "coh", "x")
    val eps = 1e-6
    def contrib(p: Double, q: Double) = {
      val pp = math.max(p, eps); val qq = math.max(q, eps)
      (pp - qq) * math.log(pp / qq)
    }
    val expect = contrib(0.5, 0.25) + contrib(0.5, 0.0) + contrib(0.0, 0.75)
    val got = Stats.psi(df, Seq(col("g")), col("x"), col("coh"),
      edges = Seq(2.0, 3.0))
    val r = got.collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - expect) < 1e-12, s"psi ${r.getDouble(3)}")
    // identical cohorts: psi == 0 exactly (every contribution is +0.0)
    val same = (1 to 200).flatMap(i =>
      Seq(("s", true, (i % 7).toLong), ("s", false, (i % 7).toLong)))
      .toDF("g", "coh", "x")
    assert(Stats.psi(same, Seq(col("g")), col("x"), col("coh"),
      Seq(2.0, 4.0, 6.0)).collect()(0).getDouble(3) == 0.0)
    // empty cohort -> null psi
    val oneSided = Seq(("o", true, 1L), ("o", true, 5L)).toDF("g", "coh", "x")
    assert(Stats.psi(oneSided, Seq(col("g")), col("x"), col("coh"),
      Seq(3.0)).collect()(0).isNullAt(3))
    // layout invariance is EXACT (fixed-order fold, not a float SUM)
    val rnd = new scala.util.Random(83)
    val fuzz = (1 to 2000).map(i =>
      ("f" + i % 3, i % 2 == 0, rnd.nextInt(100).toLong)).toDF("g", "coh", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.psi(d, Seq(col("g")), col("x"), col("coh"),
        Seq(10.0, 30.0, 50.0, 70.0, 90.0))
        .collect().map(r0 => r0.getString(0) -> r0.getDouble(3)).toMap
    assert(run(fuzz) == run(fuzz.repartition(13)))
    assert(run(fuzz) == run(fuzz.coalesce(1)))
  }

  test("jsDivergence: hand-computed, 0 for identical, ln2 for disjoint, null for empty") {
    import spark.implicits._
    // cohort A = {1,1,2,2}, B = {1,3,3,3}, edges (2,3): pA=(.5,.5,0), pB=(.25,0,.75)
    val rows = Seq(("g", true, 1L), ("g", true, 1L), ("g", true, 2L),
      ("g", true, 2L), ("g", false, 1L), ("g", false, 3L),
      ("g", false, 3L), ("g", false, 3L))
    def term(p: Double, q: Double) = {
      val m = (p + q) / 2
      (if (p > 0) p * math.log(p / m) else 0.0) +
        (if (q > 0) q * math.log(q / m) else 0.0)
    }
    val expect = (term(0.5, 0.25) + term(0.5, 0.0) + term(0.0, 0.75)) / 2
    val r = Stats.jsDivergence(rows.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh"), Seq(2.0, 3.0)).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - expect) < 1e-15)
    assert(r.getDouble(3) <= math.log(2.0) + 1e-15)
    // identical cohorts -> exactly 0
    val same = (1 to 100).flatMap(i =>
      Seq(("s", true, (i % 5).toLong), ("s", false, (i % 5).toLong)))
    assert(Stats.jsDivergence(same.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh"), Seq(2.0, 4.0)).collect()(0).getDouble(3) == 0.0)
    // fully disjoint -> exactly ln 2
    val disj = Seq(("d", true, 1L), ("d", true, 1L), ("d", false, 9L))
    assert(Stats.jsDivergence(disj.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh"), Seq(5.0)).collect()(0).getDouble(3) ==
      math.log(2.0))
    // empty cohort -> null
    val one = Seq(("o", true, 1L), ("o", true, 2L))
    assert(Stats.jsDivergence(one.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh"), Seq(3.0)).collect()(0).isNullAt(3))
    // bitwise layout invariance
    val rnd = new scala.util.Random(131)
    val fuzz = (1 to 2000).map(i =>
      ("f" + i % 3, i % 2 == 0, rnd.nextInt(100).toLong)).toDF("g", "coh", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.jsDivergence(d, Seq(col("g")), col("x"), col("coh"),
        Seq(20.0, 40.0, 60.0, 80.0))
        .collect().map(r0 => r0.getString(0) -> r0.getDouble(3)).toMap
    assert(run(fuzz) == run(fuzz.repartition(13)))
  }

  test("ksStatistic: naive ECDF differential, ties absorbed, identical -> 0, empty -> null") {
    import spark.implicits._
    // naive two-sample KS over the same exact integer arithmetic
    def naive(a: Seq[Long], b: Seq[Long]): (Long, Double) = {
      val xs = (a ++ b).distinct.sorted
      val dnum = xs.map(x =>
        math.abs(a.count(_ <= x).toLong * b.size - b.count(_ <= x).toLong * a.size))
        .max
      (dnum, dnum.toDouble / (a.size.toLong * b.size).toDouble)
    }
    // hand fixture: A={1,2,3,4}, B={3,4,5,6} → D = 2/4 at x=2
    val a0 = Seq(1L, 2L, 3L, 4L); val b0 = Seq(3L, 4L, 5L, 6L)
    val rows = a0.map(("g", true, _)) ++ b0.map(("g", false, _))
    val r = Stats.ksStatistic(rows.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh")).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert((r.getLong(3), r.getDouble(4)) == naive(a0, b0))
    assert(r.getDouble(4) == 0.5)
    // ties absorbed per distinct value: A={1,1,2}, B={1,2,2} → D = 1/3
    val at = Seq(1L, 1L, 2L); val bt = Seq(1L, 2L, 2L)
    val rt = Stats.ksStatistic(
      (at.map(("t", true, _)) ++ bt.map(("t", false, _))).toDF("g", "coh", "x"),
      Seq(col("g")), col("x"), col("coh")).collect()(0)
    assert((rt.getLong(3), rt.getDouble(4)) == naive(at, bt))
    // identical cohorts → exactly 0
    val same = (1 to 50).flatMap(i => Seq(("s", true, (i % 7).toLong),
      ("s", false, (i % 7).toLong)))
    assert(Stats.ksStatistic(same.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh")).collect()(0).getDouble(4) == 0.0)
    // disjoint cohorts → exactly 1
    val disj = Seq(("d", true, 1L), ("d", true, 2L), ("d", false, 9L))
    assert(Stats.ksStatistic(disj.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh")).collect()(0).getDouble(4) == 1.0)
    // empty cohort → null ks (and d_num = n1·n2 gap never divides)
    val one = Seq(("o", true, 1L), ("o", true, 2L))
    assert(Stats.ksStatistic(one.toDF("g", "coh", "x"), Seq(col("g")),
      col("x"), col("coh")).collect()(0).isNullAt(4))
    // fuzzed differential + bitwise layout invariance
    val rnd = new scala.util.Random(67)
    val fa = Seq.fill(300)(rnd.nextInt(40).toLong)
    val fb = Seq.fill(200)((rnd.nextInt(40) + rnd.nextInt(10)).toLong)
    val fuzz = (fa.map(("f", true, _)) ++ fb.map(("f", false, _)))
      .toDF("g", "coh", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.ksStatistic(d, Seq(col("g")), col("x"), col("coh"))
        .collect().map(r0 => (r0.getLong(3), r0.getDouble(4))).head
    assert(run(fuzz) == naive(fa, fb))
    assert(run(fuzz.repartition(13)) == run(fuzz))
  }

  test("isotonicFit: first-violator naive differential; monotone; pools exact; layout-exact") {
    import spark.implicits._
    // naive PAV by FIRST-violator iteration — a different merge order
    // than the kernel's stack; exact confluence says results must match
    def naive(sums: Seq[Long], cnts: Seq[Long]): Seq[(Long, Long)] = {
      var pools = sums.zip(cnts).map { case (s, c) => (s, c, 1) }.toVector
      var changed = true
      while (changed) {
        val i = pools.indices.dropRight(1).find(j =>
          pools(j)._1 * pools(j + 1)._2 >= pools(j + 1)._1 * pools(j)._2)
        i match {
          case Some(j) =>
            val m = (pools(j)._1 + pools(j + 1)._1,
              pools(j)._2 + pools(j + 1)._2, pools(j)._3 + pools(j + 1)._3)
            pools = (pools.take(j) :+ m) ++ pools.drop(j + 2)
          case None => changed = false
        }
      }
      pools.flatMap { case (s, c, span) => Seq.fill(span)((s, c)) }
    }
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 6) {
      val nScores = 5 + rnd.nextInt(20)
      // noisy monotone-ish label rates over binned scores
      val rows = (0 until nScores).flatMap { b =>
        val cnt = 5 + rnd.nextInt(20)
        val pos = rnd.nextInt(cnt + 1)
        (0 until cnt).map(i => ("g", b.toLong, if (i < pos) 1L else 0L))
      }
      val df = rows.toDF("g", "score", "label")
      val out = Stats.isotonicFit(df, Seq(col("g")), col("score"),
          col("label"))
        .orderBy("score").collect()
      val sums = out.map(_.getAs[Long]("pos_sum")).toSeq
      val cnts = out.map(_.getAs[Long]("n")).toSeq
      val want = naive(sums, cnts)
      val got = out.map(r =>
        (r.getAs[Long]("pool_sum"), r.getAs[Long]("pool_cnt"))).toSeq
      assert(got == want, s"trial $trial: $got vs $want")
      // fitted values are non-decreasing in score
      val cal = out.map(_.getAs[Double]("calibrated")).toSeq
      assert(cal.sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
        s"trial $trial: not monotone: $cal")
      // pools conserve mass
      assert(cnts.sum == rows.size && sums.sum == rows.count(_._3 == 1L))
    }
    // a cleanly increasing signal is already isotonic: pools = positions
    val clean = (0 until 5).flatMap(b =>
      (0 until 10).map(i => ("c", b.toLong, if (i < b * 2) 1L else 0L)))
    val co = Stats.isotonicFit(clean.toDF("g", "score", "label"),
        Seq(col("g")), col("score"), col("label"))
      .orderBy("score").collect()
    assert(co.map(_.getAs[Double]("calibrated")).toSeq ==
      Seq(0.0, 0.2, 0.4, 0.6, 0.8))
    // layout invariance is exact
    val fz = (0 until 500).map(i =>
      ("z", (i % 13).toLong, (i % 3 == 0, i % 7 < 3) match {
        case (true, _) => 1L; case (_, true) => 1L; case _ => 0L }))
      .toDF("g", "score", "label")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.isotonicFit(d, Seq(col("g")), col("score"), col("label"))
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(run(fz.repartition(11)).toSeq == run(fz).toSeq)
  }

  test("applyCalibration: step-function semantics; below-range null; no join node") {
    import spark.implicits._
    val train = (0 until 4).flatMap(b =>
      (0 until 10).map(i => ("g", (b * 10).toLong, if (i < b * 3) 1L else 0L)))
      .toDF("g", "score", "label")
    val fit = Stats.isotonicFit(train, Seq(col("g")), col("score"),
      col("label"))
    val fresh = Seq(("g", -5L), ("g", 0L), ("g", 14L), ("g", 30L),
      ("g", 99L)).toDF("g", "s")
    val out = Stats.applyCalibration(fresh, fit, Seq("g"), "s")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val knots = fit.orderBy("score").collect()
      .map(r => r.getLong(1) -> r.getDouble(6)).toMap
    assert(out(-5L).isEmpty, "below the first knot must be uncalibrated")
    assert(out(0L).contains(knots(0L)))
    assert(out(14L).contains(knots(10L)), "14 maps to the 10-knot step")
    assert(out(30L).contains(knots(30L)))
    assert(out(99L).contains(knots(30L)), "beyond the last knot holds flat")
    // the as-of machinery: no join node in the plan
    val plan = Stats.applyCalibration(fresh, fit, Seq("g"), "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"calibration planned a join:\n$plan")
  }

  test("crossCorr: perfect shifted copy peaks at its lag; naive differential; nulls") {
    import spark.implicits._
    // y is x shifted 2 steps later (y_{t+2} = x_t) → r = 1.0 EXACTLY at
    // lag 2 (integer algebra: identical co-moment sets)
    val rnd = new scala.util.Random(47)
    val xs = Seq.fill(40)(rnd.nextInt(100).toLong)
    val rows = xs.indices.map { t =>
      val y = if (t >= 2) xs(t - 2) else rnd.nextInt(100).toLong
      ("g", t.toLong, xs(t), y)
    }
    val df = rows.toDF("g", "t", "x", "y")
    val out = Stats.crossCorr(df, Seq(col("g")), col("t"), col("x"),
        col("y"), maxLag = 3)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(2L)._2 == 1.0, s"shifted copy should peak at lag 2: $out")
    assert(out.filterNot(_._1 == 2L).values.forall(_._2 < 0.7),
      s"non-matching lags suspiciously high: $out")
    // naive differential at every lag
    def naive(lag: Int): (Long, Double) = {
      val pairs = rows.flatMap { case (_, t, x0, _) =>
        rows.find(_._2 == t + lag).map(r2 => (x0, r2._4)) }
      val n = pairs.size.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      (n, (n * sxy - sx * sy).toDouble /
        math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble))
    }
    (0 to 3).foreach { l =>
      assert(out(l.toLong) == naive(l), s"lag $l: ${out(l.toLong)} vs ${naive(l)}")
    }
    // constant y → zero variance → null r
    val const = (0 until 10).map(t => ("c", t.toLong, t.toLong, 5L))
      .toDF("g", "t", "x", "y")
    assert(Stats.crossCorr(const, Seq(col("g")), col("t"), col("x"),
      col("y"), 1).collect().forall(_.isNullAt(3)))
    // layout invariance is bitwise
    val again = Stats.crossCorr(df.repartition(11), Seq(col("g")), col("t"),
        col("x"), col("y"), 3)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(again == out)
  }

  test("kaplanMeier: textbook six-subject curve bitwise; censoring drops risk not survival; invariance") {
    import spark.implicits._
    // the classic small example: event times 1,3,5,6; censored at 2,4
    val mice = Seq((1.0, true), (2.0, false), (3.0, true),
      (4.0, false), (5.0, true), (6.0, true))
      .map { case (t, e) => ("m", t, e) }
    val km = Stats.kaplanMeier(mice.toDF("g", "dur", "ev"), Seq("g"),
        col("dur"), col("ev"))
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // replicate with the same op order: s' = s * (1 - d/n)
    def step(s: Double, d: Long, n: Long) = s * (1.0 - d.toDouble / n.toDouble)
    val s1 = step(1.0, 1, 6)
    val s2 = step(s1, 0, 5) // censor-only time: survival flat
    val s3 = step(s2, 1, 4)
    val s4 = step(s3, 0, 3)
    val s5 = step(s4, 1, 2)
    val s6 = step(s5, 1, 1)
    assert(km(1.0) == ((6L, 1L, 0L, s1)))
    assert(km(2.0) == ((5L, 0L, 1L, s2)) && s2 == s1)
    assert(km(3.0) == ((4L, 1L, 0L, s3)))
    assert(km(4.0) == ((3L, 0L, 1L, s4)) && s4 == s3)
    assert(km(5.0) == ((2L, 1L, 0L, s5)))
    assert(km(6.0) == ((1L, 1L, 0L, s6)) && s6 == 0.0)
    // survival is monotone non-increasing and censoring never moves it
    val ordered = km.toSeq.sortBy(_._1).map(_._2._4)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => b <= a })
    // two groups + duplicate times + layout invariance, bitwise
    val rng = new scala.util.Random(59)
    val big = (0 until 400).map { i =>
      (s"g${i % 2}", (rng.nextInt(12) + 1).toDouble, rng.nextBoolean()) }
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.kaplanMeier(df, Seq("g"), col("dur"), col("ev"))
        .collect().map(r => (r.getString(0), r.getDouble(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
        .toMap
    val a = run(big.toDF("g", "dur", "ev"))
    assert(a == run(big.reverse.toDF("g", "dur", "ev").repartition(7)))
    // n_risk telescopes: at the smallest time it is the group size
    assert(a(("g0", a.keys.filter(_._1 == "g0").map(_._2).min))._1 ==
      big.count(_._1 == "g0").toLong)
  }

  test("shapley attribution: hand example; full-permutation replay; efficiency and null-player axioms exact") {
    import spark.implicits._
    import graft.operators.Attribution
    // hand example, 2 channels: {A}→1 conv, {B}→0, {A,B}→2 convs
    // v(∅)=0 v(A)=1 v(B)=0 v(AB)=3 ⇒ φ_A=(1·1+1·3)/2=2, φ_B=(0+1·2)/2=1
    val hand = Seq(
      ("u1", "A", false), ("u1", "buy", true),
      ("u2", "B", false),
      ("u3", "A", false), ("u3", "B", false), ("u3", "buy", true),
      ("u4", "A", false), ("u4", "B", false), ("u4", "buy", true))
      .toDF("u", "ch", "cv")
    val h = Attribution.shapley(hand, col("u"), col("ch"), col("cv"),
        Seq("A", "B"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(h("A") == ((4L, 2.0)) && h("B") == ((2L, 1.0)))

    // random k=4 fixture vs a FULL-PERMUTATION naive replay: Shapley's
    // permutation definition (average marginal contribution over all
    // k! orderings) must equal the subset-sum formula EXACTLY
    val rng = new scala.util.Random(71)
    val chans = Seq("c0", "c1", "c2", "c3")
    val rows = (0 until 300).flatMap { u =>
      val touched = chans.filter(_ => rng.nextBoolean())
      val conv = touched.nonEmpty && rng.nextInt(3) == 0
      touched.map(c => (s"u$u", c, false)) ++
        (if (conv) Seq((s"u$u", "buy", true)) else Nil)
    }
    val got = Attribution.shapley(rows.toDF("u", "ch", "cv"), col("u"),
        col("ch"), col("cv"), chans)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // naive: v(S) = conversions of users with touched-set ⊆ S
    // valuesIterator, NOT .map on the Map: tuple results would re-key
    // by touched set and silently collapse same-set users
    val byUser = rows.groupBy(_._1).valuesIterator.map { rs =>
      (rs.collect { case (_, c, _) if chans.contains(c) => c }.toSet,
        rs.exists(_._3)) }.toVector
    def v(sets: Set[String]): Long =
      byUser.count { case (t, cv) => cv && t.nonEmpty && t.subsetOf(sets) }
        .toLong
    val perms = chans.permutations.toSeq // 24 orderings
    val naivePhi = chans.map { c =>
      c -> perms.map { perm =>
        val before = perm.takeWhile(_ != c).toSet
        v(before + c) - v(before)
      }.sum // Σ over permutations of the marginal = φ·k!
    }.toMap
    chans.foreach(c => assert(got(c) == naivePhi(c), s"channel $c"))
    // efficiency axiom, as exact integers: Σ φ_num = v(N)·k!
    assert(got.values.sum == v(chans.toSet) * 24L)

    // null-player axiom: a channel never touched by any converter gets
    // exactly zero credit
    val withDead = rows ++ (0 until 50).map(u => (s"d$u", "c4", false))
    val dead = Attribution.shapley(withDead.toDF("u", "ch", "cv"),
        col("u"), col("ch"), col("cv"), chans :+ "c4")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dead("c4") == 0L)
  }

  test("attribution fail-fasts: duplicate channels at ingestion; foreign counts at readout") {
    import spark.implicits._
    import graft.operators.Attribution
    val touches = Seq(("u1", "a", true)).toDF("u", "ch", "cv")
    // duplicated channel must be rejected at the INGESTION face, before
    // any state accumulates under the wrong masks (ADVICE r13)
    val e1 = intercept[IllegalArgumentException] {
      Attribution.maskConversionCounts(touches, col("u"), col("ch"),
        col("cv"), Seq("a", "b", "a"))
    }
    assert(e1.getMessage.contains("distinct"))
    // a counts table built under a DIFFERENT channel universe must
    // raise, not silently renormalize the row totals (ADVICE r13)
    val foreign = Seq(("START", "zz", 5L), ("zz", "CONV", 5L))
      .toDF("from_state", "to_state", "n")
    val e2 = intercept[IllegalArgumentException] {
      Attribution.markovFromCounts(foreign, Seq("a", "b"))
    }
    assert(e2.getMessage.contains("universe"))
  }

  test("proportionUplift: hand z exact; empty arm and degenerate pooled rate give nulls") {
    import spark.implicits._
    // 200 treated (60 succ), 100 control (20 succ)
    val rows = (0 until 200).map(i => ("g", true, i < 60)) ++
      (0 until 100).map(i => ("g", false, i < 20))
    val r = Stats.proportionUplift(rows.toDF("g", "t", "o"),
      Seq(col("g")), col("t"), col("o")).head()
    assert(r.getAs[Long]("n_t") == 200L && r.getAs[Long]("x_t") == 60L)
    val rT = 60.0 / 200.0; val rC = 20.0 / 100.0
    val pHat = 80.0 / 300.0
    val se = math.sqrt(pHat * (1.0 - pHat) * (1.0 / 200.0 + 1.0 / 100.0))
    assert(r.getAs[Double]("uplift") == rT - rC)
    assert(r.getAs[Double]("z") == (rT - rC) / se)
    // empty control arm: rate_c/uplift/z null
    val solo = Stats.proportionUplift(
      rows.filter(_._2).toDF("g", "t", "o"), Seq(col("g")), col("t"),
      col("o")).head()
    assert(solo.isNullAt(solo.fieldIndex("rate_c")) &&
      solo.isNullAt(solo.fieldIndex("z")))
    // all-success pooled rate: no variance, z null, uplift still 0
    val allWin = Stats.proportionUplift(
      Seq(("g", true, true), ("g", false, true)).toDF("g", "t", "o"),
      Seq(col("g")), col("t"), col("o")).head()
    assert(allWin.isNullAt(allWin.fieldIndex("z")) &&
      allWin.getAs[Double]("uplift") == 0.0)
  }

  test("quantileTreatmentEffect: exact order statistics; detects a tail-only effect the mean dilutes") {
    import spark.implicits._
    // treated arm identical to control EXCEPT the top decile is shifted
    // +100 — the mean moves ~10 but the median not at all
    val control = (0 until 1000).map(i => ("g", false, i.toDouble))
    val treatedRows = (0 until 1000).map(i =>
      ("g", true, if (i >= 900) i + 100.0 else i.toDouble))
    val out = Stats.quantileTreatmentEffect(
        (control ++ treatedRows).toDF("g", "t", "y"), Seq("g"), col("t"),
        col("y"), probs = Seq(0.5, 0.95), accuracy = 100000)
      .collect().map(r => r.getDouble(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // exact order statistics: q(p) is an actual element of each arm
    val ctl = control.map(_._3).sorted
    val trt = treatedRows.map(_._3).sorted
    def disc(xs: Seq[Double], p: Double) =
      xs(math.ceil(p * xs.size).toInt - 1)
    assert(out(0.5) == ((disc(trt, 0.5), disc(ctl, 0.5), 0.0)))
    assert(out(0.95)._3 == 100.0) // the planted tail shift, exactly
    // missing arm: q_c and qte null
    val solo = Stats.quantileTreatmentEffect(
        treatedRows.toDF("g", "t", "y"), Seq("g"), col("t"), col("y"),
        probs = Seq(0.5), accuracy = 100000).head()
    assert(solo.isNullAt(solo.fieldIndex("q_c")) &&
      solo.isNullAt(solo.fieldIndex("qte")))
  }

  test("diffInDiff: recovers a planted effect under group and time confounds; empty cell null") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    // treated group sits 50 higher at BASELINE (group confound), both
    // groups drift +20 in the post period (time confound), true
    // treatment effect = 7. Raw post-period diff would read 57.
    val rows = (0 until 4000).map { i =>
      val t = i % 2 == 0
      val p = i % 4 < 2
      val y = 100.0 + (if (t) 50.0 else 0.0) + (if (p) 20.0 else 0.0) +
        (if (t && p) 7.0 else 0.0) + rng.nextGaussian()
      ("g", t, p, y)
    }
    val r = Stats.diffInDiff(rows.toDF("g", "t", "p", "y"),
      Seq(col("g")), col("t"), col("p"), col("y"), quantScale = 1e3)
      .head()
    assert(math.abs(r.getAs[Double]("did") - 7.0) < 0.2,
      s"did=${r.getAs[Double]("did")} should isolate the 7.0 effect")
    // naive replay over the same quantized values, bitwise
    val q = 1e3
    def cellMean(ct: Boolean, cp: Boolean) = {
      val c = rows.filter(v => v._2 == ct && v._3 == cp)
        .map(v => math.floor(v._4 * q).toLong)
      c.sum.toDouble / c.size.toDouble / q
    }
    val did = (cellMean(true, true) - cellMean(true, false)) -
      (cellMean(false, true) - cellMean(false, false))
    assert(r.getAs[Double]("did") == did)
    // a missing cell (no treated-pre rows) nulls the estimate
    val gap = Stats.diffInDiff(
      rows.filterNot(v => v._2 && !v._3).toDF("g", "t", "p", "y"),
      Seq(col("g")), col("t"), col("p"), col("y"), quantScale = 1e3)
      .head()
    assert(gap.isNullAt(gap.fieldIndex("did")))
  }

  test("srmCheck: hand chi2 exact; balanced split quiet, broken split alarms") {
    import spark.implicits._
    // 5100 vs 4900 on a designed 50/50: chi2 = 2·(100²/5000) = 4 — noisy
    // but NOT an SRM at the 10.828 gate
    val ok = (0 until 5100).map(_ => ("g", true)) ++
      (0 until 4900).map(_ => ("g", false))
    val r1 = Stats.srmCheck(ok.toDF("g", "t"), Seq(col("g")), col("t"))
      .head()
    val e = 10000.0 * 0.5
    val chi2 = (5100.0 - e) * (5100.0 - e) / e +
      (4900.0 - e) * (4900.0 - e) / e
    assert(r1.getAs[Double]("chi2") == chi2 && chi2 == 4.0)
    assert(!r1.getAs[Boolean]("srm"))
    // 5300/4700 is a real mismatch: chi2 = 36 >> 10.828
    val bad = (0 until 5300).map(_ => ("g", true)) ++
      (0 until 4700).map(_ => ("g", false))
    val r2 = Stats.srmCheck(bad.toDF("g", "t"), Seq(col("g")), col("t"))
      .head()
    assert(r2.getAs[Boolean]("srm") && r2.getAs[Double]("chi2") == 36.0)
    // non-even design ratio: expected counts follow it
    val r3 = Stats.srmCheck(bad.toDF("g", "t"), Seq(col("g")), col("t"),
      ratio = 0.53).head()
    assert(r3.getAs[Double]("expected_t") == 5300.0)
    assert(!r3.getAs[Boolean]("srm")) // 53/47 design: observed is spot-on
  }

  test("cuped: naive quantized replay bitwise; corrects covariate imbalance toward the truth") {
    import spark.implicits._
    val rng = new scala.util.Random(79)
    // covariate x ~ user skill; y = x + effect·treated + noise. Arms
    // IMBALANCED on x (treated skews high), so the raw uplift
    // overstates the true effect 5.0 and CUPED must pull it back.
    val rows = (0 until 2000).map { i =>
      val t = i % 2 == 0
      val x = rng.nextDouble() * 100 + (if (t) 20.0 else 0.0)
      val y = x + (if (t) 5.0 else 0.0) + rng.nextGaussian() * 3
      ("g", t, y, x)
    }
    val r = Stats.cuped(rows.toDF("g", "t", "y", "x"), Seq(col("g")),
      col("t"), col("y"), col("x"), quantScale = 1e3).head()
    val raw = r.getAs[Double]("uplift_raw")
    val adj = r.getAs[Double]("uplift_cuped")
    assert(raw > 20.0, s"raw uplift $raw should carry the imbalance")
    assert(math.abs(adj - 5.0) < 1.0,
      s"cuped uplift $adj should be near the true effect 5.0")

    // naive single-threaded replay over the SAME quantized values —
    // theta and both uplifts must match bitwise
    val q = 1e3
    val quant = rows.map { case (_, t, y, x) =>
      (t, math.floor(y * q).toLong, math.floor(x * q).toLong) }
    val n = quant.size.toLong
    val sy = quant.map(_._2).sum; val sx = quant.map(_._3).sum
    val sxx = quant.map(v => v._3 * v._3).sum
    val sxy = quant.map(v => v._3 * v._2).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    assert(r.getAs[Double]("theta") == theta)
    def arm(p: Boolean) = {
      val a = quant.filter(_._1 == p)
      (a.size.toLong, a.map(_._2).sum, a.map(_._3).sum)
    }
    val (ntL, sytL, sxtL) = arm(true); val (ncL, sycL, sxcL) = arm(false)
    val mxa = sx.toDouble / n.toDouble
    val adjT = sytL.toDouble / ntL.toDouble -
      theta * (sxtL.toDouble / ntL.toDouble - mxa)
    val adjC = sycL.toDouble / ncL.toDouble -
      theta * (sxcL.toDouble / ncL.toDouble - mxa)
    assert(r.getAs[Double]("uplift_cuped") == (adjT - adjC) / q)
    assert(r.getAs[Double]("uplift_raw") ==
      (sytL.toDouble / ntL.toDouble - sycL.toDouble / ncL.toDouble) / q)
    // constant covariate: var(x)=0 ⇒ theta/cuped null, raw unaffected
    val flat = Stats.cuped(rows.map(v => (v._1, v._2, v._3, 1.0))
        .toDF("g", "t", "y", "x"), Seq(col("g")), col("t"), col("y"),
      col("x"), quantScale = 1e3).head()
    assert(flat.isNullAt(flat.fieldIndex("theta")) &&
      flat.isNullAt(flat.fieldIndex("uplift_cuped")))
    assert(flat.getAs[Double]("uplift_raw") == raw)
  }

  test("markov attribution: hand chain exact; naive value-iteration replay bitwise; axioms") {
    import spark.implicits._
    import graft.operators.Attribution
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // hand chain: START->A (2/3), START->B (1/3); A->CONV .5, B->CONV 1
    val hand = Seq(
      ("u1", "A", ts(1), 1L), ("u1", "buy", ts(2), 2L),
      ("u2", "A", ts(1), 3L),
      ("u3", "B", ts(1), 4L), ("u3", "buy", ts(2), 5L))
      .toDF("u", "ch", "t", "eid")
    val h = Attribution.markovRemoval(hand, col("u"), col("ch"),
        col("t"), col("eid"), col("ch") === "buy", Seq("A", "B"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val pA = 2.0 / 3.0; val pB = 1.0 / 3.0
    val pFull = pA * 0.5 + pB * 1.0 // = 2/3
    assert(h("A")._1 == pFull)
    assert(h("A")._2 == pB * 1.0 && h("A")._3 == 1.0 - (pB * 1.0) / pFull)
    assert(h("B")._2 == pA * 0.5 && h("B")._3 == 1.0 - (pA * 0.5) / pFull)

    // multi-touch random fixture vs a naive value-iteration replay in
    // the SAME term order — must match BITWISE
    val rng = new scala.util.Random(73)
    val chans = Seq("c0", "c1", "c2")
    val rows = (0 until 200).flatMap { u =>
      val len = 1 + rng.nextInt(4)
      val path = Seq.fill(len)(chans(rng.nextInt(3)))
      val conv = rng.nextInt(3) == 0
      path.zipWithIndex.map { case (c, i) =>
        (s"u$u", c, ts(i), (u * 10 + i).toLong) } ++
        (if (conv) Seq((s"u$u", "buy", ts(9), (u * 10 + 9).toLong))
         else Nil)
    }
    val got = Attribution.markovRemoval(rows.toDF("u", "ch", "t", "eid"),
        col("u"), col("ch"), col("t"), col("eid"), col("ch") === "buy",
        chans, iters = 60)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    // naive: counts, probabilities, 60 iterations, same fold order
    val byUser = rows.groupBy(_._1).valuesIterator.map { rs =>
      (rs.sortBy(r => (r._3.getTime, r._4))
        .collect { case (_, c, _, _) if chans.contains(c) => c },
        rs.exists(_._2 == "buy"))
    }.toVector.filter(_._1.nonEmpty)
    val cells = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    byUser.foreach { case (p, cv) =>
      cells(("START", p.head)) += 1
      p.zip(p.tail).foreach { case (a, b) => cells((a, b)) += 1 }
      cells((p.last, if (cv) "CONV" else "NULL")) += 1
    }
    val froms = "START" +: chans
    val tots = froms.map(f => f -> (chans.map(c => cells((f, c))) ++
      Seq(cells((f, "CONV")), cells((f, "NULL")))).sum).toMap
    def p(f: String, t: String) =
      if (tots(f) == 0L) 0.0 else cells((f, t)).toDouble / tots(f).toDouble
    def absorb(removed: Int): Double = {
      val x = Array.fill(froms.size)(0.0)
      for (_ <- 1 to 60) {
        val nx = new Array[Double](froms.size)
        for (si <- froms.indices) {
          var acc = 0.0
          for (ci <- chans.indices)
            acc += p(froms(si), chans(ci)) *
              (if (ci == removed) 0.0 else x(1 + ci))
          acc += p(froms(si), "CONV")
          nx(si) = acc
        }
        if (removed >= 0) nx(1 + removed) = 0.0
        Array.copy(nx, 0, x, 0, x.length)
      }
      x(0)
    }
    chans.zipWithIndex.foreach { case (c, i) =>
      assert(got(c)._1 == absorb(-1), s"p_full via $c")
      assert(got(c)._2 == absorb(i), s"p_removed($c)")
    }
    // removing a never-touched channel changes nothing: effect exactly 0
    val dead = Attribution.markovRemoval(rows.toDF("u", "ch", "t", "eid"),
        col("u"), col("ch"), col("t"), col("eid"), col("ch") === "buy",
        chans :+ "ghost", iters = 60)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(dead("ghost") == 0.0)
  }

  test("logRank: naive replay bitwise; direction flips with the cohort; degenerate null") {
    import spark.implicits._
    val rng = new scala.util.Random(67)
    // cohort 1 fails early (durations 1-6), cohort 2 late (5-12), with
    // censoring sprinkled in — a real difference the test must detect
    val subj = (0 until 120).map { i =>
      val c1 = i % 2 == 0
      val dur = if (c1) 1 + rng.nextInt(6) else 5 + rng.nextInt(8)
      ("g", i.toLong, dur.toDouble, rng.nextInt(5) > 0, c1)
    }
    val df = subj.toDF("g", "id", "dur", "ev", "c1")
    val out = Stats.logRank(df, Seq("g"), col("dur"), col("ev"),
      col("c1")).head()
    // naive single-threaded replay, same op order
    val times = subj.map(_._3).distinct.sorted
    var (u1, u2, oe, v) = (0L, 0L, 0.0, 0.0)
    val n1T = subj.count(_._5).toLong; val n2T = subj.size - n1T
    for (t <- times) {
      val at = subj.filter(_._3 == t)
      val d1 = at.count(s => s._5 && s._4).toLong
      val x1 = at.count(s => s._5 && !s._4).toLong
      val d2 = at.count(s => !s._5 && s._4).toLong
      val x2 = at.count(s => !s._5 && !s._4).toLong
      val n1 = n1T - u1; val n2 = n2T - u2; val n = n1 + n2
      val d = d1 + d2
      if (n > 1 && d > 0) {
        oe += d1.toDouble - d.toDouble * n1.toDouble / n.toDouble
        v += d.toDouble * (n1.toDouble / n.toDouble) *
          (n2.toDouble / n.toDouble) *
          ((n - d).toDouble / (n - 1).toDouble)
      }
      u1 += d1 + x1; u2 += d2 + x2
    }
    assert(out.getAs[Long]("n1") == n1T && out.getAs[Long]("n2") == n2T)
    assert(out.getAs[Double]("v") == v)
    assert(out.getAs[Double]("chi2") == oe * oe / v)
    assert(out.getAs[Double]("z") == oe / math.sqrt(v))
    // early-failing cohort 1 ⇒ MORE events than expected ⇒ z > 0, large
    assert(out.getAs[Double]("z") > 3.0)
    // swapping the cohort indicator flips o1/e1 and negates the effect
    val sw = Stats.logRank(df, Seq("g"), col("dur"), col("ev"),
      !col("c1")).head()
    assert(sw.getAs[Double]("z") < -3.0)
    assert(math.abs(sw.getAs[Double]("chi2") -
      out.getAs[Double]("chi2")) < 1e-9)
    // one empty cohort: no informative time has both ⇒ v = 0 ⇒ null test
    val solo = Stats.logRank(df.filter(col("c1")), Seq("g"), col("dur"),
      col("ev"), col("c1")).head()
    assert(solo.isNullAt(solo.fieldIndex("chi2")) &&
      solo.isNullAt(solo.fieldIndex("z")))
  }

  test("nelsonAalen: textbook curve bitwise; shares KM's count grid; monotone hazard") {
    import spark.implicits._
    // same classic six-subject fixture as the KM spec
    val mice = Seq((1.0, true), (2.0, false), (3.0, true),
      (4.0, false), (5.0, true), (6.0, true))
      .map { case (t, e) => ("m", t, e) }
    val df = mice.toDF("g", "dur", "ev")
    val na = Stats.nelsonAalen(df, Seq("g"), col("dur"), col("ev"))
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    // replay with the same op order: h' = h + d/n, v' = v + d/n²
    var h = 0.0; var v2 = 0.0
    val expected = Seq((1.0, 1L, 6L), (2.0, 0L, 5L), (3.0, 1L, 4L),
      (4.0, 0L, 3L), (5.0, 1L, 2L), (6.0, 1L, 1L)).map {
      case (t, d, n) =>
        val nD = n.toDouble; val dD = d.toDouble
        h += dD / nD; v2 += dD / (nD * nD)
        t -> ((h, v2))
    }.toMap
    for ((t, (eh, ev2)) <- expected) {
      assert(na(t)._4 == eh, s"hazard at t=$t")
      assert(na(t)._5 == ev2, s"variance at t=$t")
    }
    // the count grid is IDENTICAL to kaplanMeier's (shared seam)
    val km = Stats.kaplanMeier(df, Seq("g"), col("dur"), col("ev"))
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for ((t, (nr, d, c, _, _)) <- na) assert(km(t) == ((nr, d, c)))
    // hazard is monotone non-decreasing; censor-only times are flat
    val ordered = na.toSeq.sortBy(_._1).map(_._2._4)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => b >= a })
    assert(na(2.0)._4 == na(1.0)._4 && na(4.0)._4 == na(3.0)._4)
    // streaming contract: two batch slices re-merged finalize
    // bit-identically (the mergeable-partial seam)
    val merged = Stats.nelsonAalenFromCounts(
      Stats.mergeSurvivalCounts(Seq(
        Stats.survivalCounts(df.limit(3), Seq("g"), col("dur"), col("ev")),
        Stats.survivalCounts(df.except(df.limit(3)), Seq("g"),
          col("dur"), col("ev"))), Seq("g")), Seq("g"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(5)).toMap
    for ((t, (_, _, _, eh, _)) <- na) assert(merged(t) == eh)
  }

  test("kaplanMeierGreenwood: variance replay bitwise; CI clipped; terminal d=n pins the term") {
    import spark.implicits._
    val mice = Seq((1.0, true), (2.0, false), (3.0, true),
      (4.0, false), (5.0, true), (6.0, true))
      .map { case (t, e) => ("m", t, e) }
    val df = mice.toDF("g", "dur", "ev")
    val gw = Stats.kaplanMeierGreenwood(df, Seq("g"), col("dur"),
        col("ev"))
      .collect().map(r => r.getDouble(1) ->
        ((r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getDouble(8)))).toMap
    // replay with the same op order: p' = p·(1−d/n); gw' += d/(n(n−d))
    // when d < n else +0; var = p²·gw; CI = p ± 1.96√var clipped
    var p = 1.0; var acc = 0.0
    val grid = Seq((1.0, 1L, 6L), (2.0, 0L, 5L), (3.0, 1L, 4L),
      (4.0, 0L, 3L), (5.0, 1L, 2L), (6.0, 1L, 1L))
    for ((t, d, n) <- grid) {
      val nD = n.toDouble; val dD = d.toDouble
      p = p * (1.0 - dD / nD)
      if (d < n) acc += dD / (nD * (n - d).toDouble)
      val varS = p * p * acc
      val half = 1.96 * math.sqrt(varS)
      assert(gw(t)._1 == p, s"survival at t=$t")
      assert(gw(t)._2 == varS, s"var at t=$t")
      assert(gw(t)._3 == math.max(0.0, p - half), s"ci_lo at t=$t")
      assert(gw(t)._4 == math.min(1.0, p + half), s"ci_hi at t=$t")
    }
    // terminal time: everyone remaining fails ⇒ S = 0, var pinned 0
    assert(gw(6.0)._1 == 0.0 && gw(6.0)._2 == 0.0)
    assert(gw(6.0)._3 == 0.0 && gw(6.0)._4 == 0.0)
    // survival column identical to plain kaplanMeier's (shared fold)
    val km = Stats.kaplanMeier(df, Seq("g"), col("dur"), col("ev"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(5)).toMap
    for ((t, (s, _, _, _)) <- gw) assert(km(t) == s)
    // merged partials finalize bit-identically (shared stored seam)
    val merged = Stats.kaplanMeierGreenwoodFromCounts(
      Stats.mergeSurvivalCounts(Seq(
        Stats.survivalCounts(df.limit(3), Seq("g"), col("dur"), col("ev")),
        Stats.survivalCounts(df.except(df.limit(3)), Seq("g"),
          col("dur"), col("ev"))), Seq("g")), Seq("g"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(6)).toMap
    for ((t, (_, v, _, _)) <- gw) assert(merged(t) == v)
  }

  test("taroneWareLogRank: naive replay bitwise; sits between logRank and Gehan on early excess") {
    import spark.implicits._
    val rng = new scala.util.Random(73)
    val subj = (0 until 120).map { i =>
      val c1 = i % 2 == 0
      val dur = if (c1) 1 + rng.nextInt(6) else 5 + rng.nextInt(8)
      ("g", dur.toDouble, rng.nextInt(5) > 0, c1)
    }
    val df = subj.toDF("g", "dur", "ev", "c1")
    val out = Stats.taroneWareLogRank(df, Seq("g"), col("dur"),
      col("ev"), col("c1")).head()
    // naive single-threaded replay with w = √n, V weight = w·w
    val times = subj.map(_._2).distinct.sorted
    var (u1, u2, oe, v) = (0L, 0L, 0.0, 0.0)
    val n1T = subj.count(_._4).toLong; val n2T = subj.size - n1T
    for (t <- times) {
      val at = subj.filter(_._2 == t)
      val d1 = at.count(s => s._4 && s._3).toLong
      val x1 = at.count(s => s._4 && !s._3).toLong
      val d2 = at.count(s => !s._4 && s._3).toLong
      val x2 = at.count(s => !s._4 && !s._3).toLong
      val n1 = n1T - u1; val n2 = n2T - u2; val n = n1 + n2
      val d = d1 + d2
      if (n > 1 && d > 0) {
        val w = math.sqrt(n.toDouble)
        oe += w * (d1.toDouble - d.toDouble * n1.toDouble / n.toDouble)
        v += w * w * (d.toDouble * (n1.toDouble / n.toDouble) *
          (n2.toDouble / n.toDouble) *
          ((n - d).toDouble / (n - 1).toDouble))
      }
      u1 += d1 + x1; u2 += d2 + x2
    }
    assert(out.getAs[Double]("oe") == oe)
    assert(out.getAs[Double]("v") == v)
    assert(out.getAs[Double]("z") == oe / math.sqrt(v))
    // early-concentrated excess: Gehan (n) > Tarone–Ware (√n) >
    // log-rank (1) in z
    val cross = ((0 until 30).map(i => ("g", 1.0, i % 2 == 0, i % 2 == 0)) ++
      (0 until 30).map(i => ("g", 2.0, true, i % 2 == 0)) ++
      (0 until 60).map(i => ("g", 10.0 + (i % 3), true, i % 2 == 1)))
      .toDF("g", "dur", "ev", "c1")
    val zG = Stats.gehanLogRank(cross, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    val zTw = Stats.taroneWareLogRank(cross, Seq("g"), col("dur"),
      col("ev"), col("c1")).head().getAs[Double]("z")
    val zLr = Stats.logRank(cross, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    assert(zG > zTw && zTw > zLr,
      s"weight ordering violated: gehan $zG, tw $zTw, logrank $zLr")
  }

  test("rmst: step-integral exact at tau beyond/inside/before the grid; merged slices bitwise") {
    import spark.implicits._
    val mice = Seq((1.0, true), (2.0, false), (3.0, true),
      (4.0, false), (5.0, true), (6.0, true))
      .map { case (t, e) => ("m", t, e) }
    val df = mice.toDF("g", "dur", "ev")
    def run(tau: Double): Double =
      Stats.rmst(df, Seq("g"), col("dur"), col("ev"), tau)
        .head().getAs[Double]("rmst")
    // survival steps: S=1 on [0,1), then the KM curve of the classic
    // fixture — replay the rectangle sum with the same op order
    def naive(tau: Double): Double = {
      var p = 1.0; var pt = 0.0; var area = 0.0
      val grid = Seq((1.0, 1L, 6L), (2.0, 0L, 5L), (3.0, 1L, 4L),
        (4.0, 0L, 3L), (5.0, 1L, 2L), (6.0, 1L, 1L))
      for ((t, d, n) <- grid) {
        area += p * (math.min(t, tau) - math.min(pt, tau))
        p = p * (1.0 - d.toDouble / n.toDouble)
        pt = t
      }
      area + p * (tau - math.min(pt, tau))
    }
    for (tau <- Seq(0.5, 3.5, 6.0, 10.0))
      assert(run(tau) == naive(tau), s"tau=$tau")
    // tau before the first event: nobody can fail yet ⇒ rmst == tau
    assert(run(0.5) == 0.5)
    // tau -> large adds nothing after S hits 0 at t=6
    assert(run(10.0) == naive(6.0))
    // monotone non-decreasing in tau
    assert(run(3.5) > run(0.5) && run(6.0) >= run(3.5))
    // merged partials finalize bit-identically (shared stored seam)
    val merged = Stats.rmstFromCounts(
      Stats.mergeSurvivalCounts(Seq(
        Stats.survivalCounts(df.limit(3), Seq("g"), col("dur"), col("ev")),
        Stats.survivalCounts(df.except(df.limit(3)), Seq("g"),
          col("dur"), col("ev"))), Seq("g")), Seq("g"), tau = 3.5)
      .head().getAs[Double]("rmst")
    assert(merged == run(3.5))
  }

  test("rmstDiff: naive two-walk replay bitwise; early-failure cohort loses event-free days; flip negates") {
    import spark.implicits._
    val rng = new scala.util.Random(79)
    val subj = (0 until 160).map { i =>
      val c1 = i % 2 == 0
      val dur = if (c1) 1 + rng.nextInt(6) else 5 + rng.nextInt(8)
      ("g", dur.toDouble, rng.nextInt(5) > 0, c1)
    }
    val df = subj.toDF("g", "dur", "ev", "c1")
    val tau = 8.0
    val out = Stats.rmstDiff(df, Seq("g"), col("dur"), col("ev"),
      col("c1"), tau).head()
    // naive replay: the same two ascending-time walks per cohort
    def cohortStats(rows: Seq[(Double, Boolean)]): (Long, Double, Double) = {
      val n = rows.size.toLong
      val grid = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (t, at) => (t, at.count(_._2).toLong, at.size.toLong) }
      var p = 1.0; var pt = 0.0; var area = 0.0; var u = 0L
      for ((t, d, all) <- grid) {
        val nn = n - u
        area += p * (math.min(t, tau) - math.min(pt, tau))
        p = p * (1.0 - d.toDouble / nn.toDouble)
        pt = t; u += all
      }
      val total = area + p * (tau - math.min(pt, tau))
      p = 1.0; pt = 0.0; area = 0.0; u = 0L
      var v = 0.0
      for ((t, d, all) <- grid) {
        val nn = n - u
        val area2 = area + p * (math.min(t, tau) - math.min(pt, tau))
        if (d > 0 && d < nn && t <= tau) {
          val a = total - area2
          v += a * a * (d.toDouble / (nn.toDouble * (nn - d).toDouble))
        }
        p = p * (1.0 - d.toDouble / nn.toDouble)
        pt = t; area = area2; u += all
      }
      (n, total, v)
    }
    val (n1, r1, v1) = cohortStats(subj.filter(_._4)
      .map(s => (s._2, s._3)))
    val (n2, r2, v2) = cohortStats(subj.filterNot(_._4)
      .map(s => (s._2, s._3)))
    assert(out.getAs[Long]("n1") == n1 && out.getAs[Long]("n2") == n2)
    assert(out.getAs[Double]("rmst1") == r1)
    assert(out.getAs[Double]("rmst2") == r2)
    assert(out.getAs[Double]("diff") == r1 - r2)
    assert(out.getAs[Double]("se") == math.sqrt(v1 + v2))
    assert(out.getAs[Double]("z") == (r1 - r2) / math.sqrt(v1 + v2))
    // cohort 1 fails early ⇒ FEWER event-free days over [0, 8]
    assert(out.getAs[Double]("diff") < -0.5)
    assert(out.getAs[Double]("z") < -3.0)
    // swapping the cohort negates diff/z exactly, se unchanged
    val sw = Stats.rmstDiff(df, Seq("g"), col("dur"), col("ev"),
      !col("c1"), tau).head()
    assert(sw.getAs[Double]("diff") == -(r1 - r2))
    assert(sw.getAs[Double]("se") == math.sqrt(v1 + v2))
  }

  test("aalenJohansen: naive replay bitwise; CIFs + survival close to 1; beats 1-KM overstatement; merged slices bitwise") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    val subj = (0 until 180).map { i =>
      val d = 1 + rng.nextInt(10)
      val cause = rng.nextInt(4) match {
        case 0 => 0; case 3 => 2; case _ => 1 }
      ("g" + (i % 2), d.toDouble, cause)
    }
    val df = subj.toDF("g", "dur", "cause")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getDouble(1), r.getInt(4))
    val got = Stats.aalenJohansen(df, Seq("g"), col("dur"),
      col("cause"), nCauses = 2).collect().map(r => key(r) -> r).toMap
    // naive single-threaded replay with the same float-op order
    def replay(rows: Seq[(Double, Int)]) = {
      val n = rows.size.toLong
      val grid = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, at) =>
        (t, Array(at.count(_._2 == 1).toLong, at.count(_._2 == 2).toLong),
          at.count(_._2 == 0).toLong) }
      var u = 0L; var p = 1.0; val cifs = Array(0.0, 0.0)
      grid.flatMap { case (t, ds, c) =>
        val nn = n - u
        for (k <- 0 until 2)
          cifs(k) = cifs(k) + p * (ds(k).toDouble / nn.toDouble)
        p = p * (1.0 - (ds(0) + ds(1)).toDouble / nn.toDouble)
        u += ds(0) + ds(1) + c
        Seq((t, nn, p, 1, ds(0), cifs(0)), (t, nn, p, 2, ds(1), cifs(1)))
      }
    }
    var checked = 0
    for (g <- Seq("g0", "g1");
         (t, nr, p, k, d, cif) <- replay(subj.filter(_._1 == g)
           .map(s => (s._2, s._3)))) {
      val r = got((g, t, k))
      assert(r.getLong(2) == nr && r.getDouble(3) == p)
      assert(r.getLong(5) == d && r.getDouble(6) == cif)
      checked += 1
    }
    assert(checked == got.size && checked > 30)
    // at the last time of each group, CIF1 + CIF2 + S(t) ≈ 1
    for (g <- Seq("g0", "g1")) {
      val tMax = got.keys.filter(_._1 == g).map(_._2).max
      val s = got((g, tMax, 1)).getDouble(3)
      val tot = got((g, tMax, 1)).getDouble(6) +
        got((g, tMax, 2)).getDouble(6) + s
      assert(math.abs(tot - 1.0) < 1e-12)
    }
    // competing-risks honesty: 1 − KM treating cause 2 as censoring
    // OVERSTATES cause-1 incidence wherever cause-2 events precede
    val naive1 = Stats.kaplanMeier(df.filter(col("cause") =!= 2),
        Seq("g"), col("dur"), col("cause") === 1)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (1.0 - r.getAs[Double]("survival"))).toMap
    val overstated = got.collect { case ((g, t, 1), r)
      if naive1.contains((g, t)) => naive1((g, t)) - r.getDouble(6) }
    assert(overstated.count(_ > 1e-9) > overstated.size / 2)
    assert(overstated.forall(_ > -1e-12))
    // merged batch-sliced partials finalize bit-identically
    val slices = Seq(subj.take(40), subj.slice(40, 130), subj.drop(130))
      .map(s => Stats.causeSurvivalCounts(s.toDF("g", "dur", "cause"),
        Seq("g"), col("dur"), col("cause"), 2))
    val merged = Stats.aalenJohansenFromCounts(
      Stats.mergeCauseSurvivalCounts(slices, Seq("g"), 2), Seq("g"), 2)
      .collect().map(r => key(r) -> r.toSeq).toMap
    assert(merged == got.map { case (k, r) => k -> r.toSeq })
  }

  test("propensityStratifiedAte: post-fit replay bitwise; de-biases a confounded effect; one-armed stratum excluded") {
    import spark.implicits._
    val rng = new scala.util.Random(107)
    // confounding: high-x units are both likelier treated AND have
    // higher outcomes; true effect = 2.0
    val units = (0 until 1200).map { i =>
      val x = rng.nextGaussian()
      val t = rng.nextDouble() < 1.0 / (1.0 + math.exp(-1.5 * x))
      val y = 2.0 * (if (t) 1.0 else 0.0) + 1.5 * x +
        0.3 * rng.nextGaussian()
      (i.toLong, x, t, y)
    }
    val df = units.toDF("id", "x", "t", "y")
    val out = Stats.propensityStratifiedAte(df, Nil, Seq(col("x")),
      col("t"), col("y"), col("id"), nStrata = 5).collect()
      .sortBy(_.getInt(0))
    val ate = out.head.getAs[Double]("ate")
    // naive replay of everything POST-FIT: weights from the (spec'd)
    // fit, then scala sigmoid, sort, ntile, quantized means, fold
    val fit = Stats.logisticFit(df, Seq(col("x")), col("t")).head()
    val (w0, w1) = (fit.getAs[Double]("w0"), fit.getAs[Double]("w1"))
    val scored = units.map { case (id, x, t, y) =>
      (id, 1.0 / (1.0 + math.exp(-((1.0 * w0) + x * w1))), t, y) }
      .sortBy(r => (r._2, r._1))
    val n = scored.size; val k = 5
    val sizes = (1 to k).map(i => n / k + (if (i <= n % k) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val strata = (0 until k).map(i =>
      scored.slice(offsets(i), offsets(i + 1)))
    var nv = 0L
    val cells = strata.map { s =>
      val (ts, cs) = s.partition(_._3)
      val qt = ts.map(r => math.floor(r._4 * 1e6).toLong).sum
      val qc = cs.map(r => math.floor(r._4 * 1e6).toLong).sum
      (ts.size.toLong, cs.size.toLong, qt, qc)
    }
    for ((nt, nc, _, _) <- cells if nt > 0 && nc > 0) nv += nt + nc
    var wantAte = 0.0
    for ((nt, nc, qt, qc) <- cells if nt > 0 && nc > 0)
      wantAte += ((nt + nc).toDouble / nv.toDouble) *
        ((qt.toDouble / 1e6) / nt.toDouble -
          (qc.toDouble / 1e6) / nc.toDouble)
    for ((row, i) <- out.zipWithIndex) {
      val (nt, nc, qt, qc) = cells(i)
      assert(row.getAs[Long]("n_t") == nt && row.getAs[Long]("n_c") == nc)
      if (nt > 0)
        assert(row.getAs[Double]("mean_t") ==
          (qt.toDouble / 1e6) / nt.toDouble)
      if (nt > 0 && nc > 0)
        assert(row.getAs[Double]("diff") ==
          (qt.toDouble / 1e6) / nt.toDouble -
            (qc.toDouble / 1e6) / nc.toDouble)
      assert(row.getAs[Double]("ate") == wantAte)
    }
    // de-biasing: naive diff is inflated by confounding; ATE is close
    val treatedY = units.filter(_._3).map(_._4)
    val controlY = units.filterNot(_._3).map(_._4)
    val naive = treatedY.sum / treatedY.size -
      controlY.sum / controlY.size
    assert(naive > 3.0, s"fixture should be confounded: $naive")
    assert(math.abs(ate - 2.0) < 0.4, s"stratified ATE near truth: $ate")
    // a one-armed stratum: null diff, excluded from the fold
    val oneArm = (0 until 100).map { i =>
      val x = if (i < 20) 10.0 + i else rng.nextGaussian()
      val t = i < 20 || rng.nextBoolean()
      (i.toLong, x, t, 1.0)
    }
    val oa = Stats.propensityStratifiedAte(
      oneArm.toDF("id", "x", "t", "y"), Nil,
      Seq(col("x")), col("t"), col("y"), col("id"), nStrata = 5,
      maxAbsOutcome = 2000.0).collect()
    assert(oa.exists(r => r.isNullAt(6)), "expected a one-armed stratum")
    assert(oa.forall(r => !r.isNullAt(7)))
  }

  test("ipwAte: post-fit replay bitwise; de-biases the confounded fixture; clip guards positivity") {
    import spark.implicits._
    val rng = new scala.util.Random(109)
    val units = (0 until 1200).map { i =>
      val x = rng.nextGaussian()
      val t = rng.nextDouble() < 1.0 / (1.0 + math.exp(-1.5 * x))
      val y = 2.0 * (if (t) 1.0 else 0.0) + 1.5 * x +
        0.3 * rng.nextGaussian()
      (i.toLong, x, t, y)
    }
    val df = units.toDF("id", "x", "t", "y")
    val out = Stats.ipwAte(df, Seq(col("x")), col("t"), col("y")).head()
    // post-fit replay: weights from the spec'd fit, scala sigmoid,
    // clip, quantized weighted sums
    val fit = Stats.logisticFit(df, Seq(col("x")), col("t")).head()
    val (w0, w1) = (fit.getAs[Double]("w0"), fit.getAs[Double]("w1"))
    val q = 1e6
    var yt = 0L; var wt = 0L; var yc = 0L; var wc = 0L
    for ((_, x, t, y) <- units) {
      val e0 = 1.0 / (1.0 + math.exp(-((1.0 * w0) + x * w1)))
      val e = math.min(math.max(e0, 0.01), 0.99)
      if (t) {
        yt += math.floor((y / e) * q).toLong
        wt += math.floor((1.0 / e) * q).toLong
      } else {
        yc += math.floor((y / (1.0 - e)) * q).toLong
        wc += math.floor((1.0 / (1.0 - e)) * q).toLong
      }
    }
    val ate = yt.toDouble / wt.toDouble - yc.toDouble / wc.toDouble
    assert(out.getAs[Long]("n") == 1200L)
    assert(out.getAs[Double]("mean_t_w") == yt.toDouble / wt.toDouble)
    assert(out.getAs[Double]("mean_c_w") == yc.toDouble / wc.toDouble)
    assert(out.getAs[Double]("ate") == ate)
    // de-biasing: the naive gap is > 3, IPW lands near the true 2.0
    assert(math.abs(ate - 2.0) < 0.4, s"IPW ATE near truth: $ate")
  }

  test("aipwAte: post-fit replay bitwise (OLS heads + correction); de-biases the confounded fixture") {
    import spark.implicits._
    val rng = new scala.util.Random(211)
    val units = (0 until 1200).map { i =>
      val x = rng.nextGaussian()
      val t = rng.nextDouble() < 1.0 / (1.0 + math.exp(-1.5 * x))
      val y = 2.0 * (if (t) 1.0 else 0.0) + 1.5 * x +
        0.3 * rng.nextGaussian()
      (i.toLong, x, t, y)
    }
    val df = units.toDF("id", "x", "t", "y")
    val out = Stats.aipwAte(df, Seq(col("x")), col("t"), col("y"))
      .head()
    // post-fit replay: propensity weights from the spec'd fit; OLS
    // heads from the same quantized moments and the same 2x2 Cramer;
    // per-row terms quantized and summed
    val fit = Stats.logisticFit(df, Seq(col("x")), col("t")).head()
    val (pw0, pw1) = (fit.getAs[Double]("w0"), fit.getAs[Double]("w1"))
    val q = 1e6
    def ols(arm: Boolean): (Double, Double) = {
      val rows = units.filter(_._3 == arm)
      def s(f: ((Long, Double, Boolean, Double)) => Double): Long =
        rows.map(r => math.floor(f(r) * q).toLong).sum
      val a00 = s(_ => 1.0 * 1.0).toDouble / q
      val a01 = s(r => 1.0 * r._2).toDouble / q
      val a11 = s(r => r._2 * r._2).toDouble / q
      val g0 = s(r => 1.0 * r._4).toDouble / q
      val g1 = s(r => r._2 * r._4).toDouble / q
      val det = a00 * a11 - a01 * a01
      ((g0 * a11 - a01 * g1) / det, (a00 * g1 - g0 * a01) / det)
    }
    val (w10, w11) = ols(true)
    val (w00, w01) = ols(false)
    var qs = 0L
    for ((_, x, t, y) <- units) {
      val e0 = 1.0 / (1.0 + math.exp(-((1.0 * pw0) + x * pw1)))
      val e = math.min(math.max(e0, 0.01), 0.99)
      val m1 = (1.0 * w10) + x * w11
      val m0 = (1.0 * w00) + x * w01
      val term = ((m1 - m0) + (if (t) (y - m1) / e else 0.0)) -
        (if (!t) (y - m0) / (1.0 - e) else 0.0)
      qs += math.floor(term * q).toLong
    }
    val ate = (qs.toDouble / q) / units.size.toDouble
    assert(out.getAs[Long]("n") == 1200L)
    assert(out.getAs[Double]("ate") == ate)
    // the naive gap is > 3 (confounded); AIPW lands near the true 2.0
    assert(math.abs(ate - 2.0) < 0.35, s"AIPW ATE near truth: $ate")
  }

  test("cronbachAlpha: naive replay bitwise; coherent battery high, independent low, reversed item negative; constant null") {
    import spark.implicits._
    val rng = new scala.util.Random(103)
    // latent trait + item noise: a coherent 3-item battery
    val units = (0 until 400).map { _ =>
      val z = rng.nextGaussian()
      ("g", z + 0.3 * rng.nextGaussian(), z + 0.3 * rng.nextGaussian(),
        z + 0.3 * rng.nextGaussian())
    }
    val q = 1e6
    val out = Stats.cronbachAlpha(units.toDF("g", "a", "b", "c"),
      Seq("g"), Seq(col("a"), col("b"), col("c")), q).head()
    // naive replay with the same quantization and float-op order
    val qs = units.map { case (_, a, b, c) =>
      Seq(math.floor(a * q).toLong, math.floor(b * q).toLong,
        math.floor(c * q).toLong) }
    val n = qs.size.toDouble
    def varOf(vs: Seq[Long]): Double = {
      val s = vs.sum.toDouble
      val ss = vs.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble
      (ss - s * (s / n)) / (n - 1.0) / (q * q)
    }
    val itemVars = (0 until 3).map(i => varOf(qs.map(_(i))))
    val sumV = itemVars.reduce(_ + _)
    val totV = varOf(qs.map(_.sum))
    val alpha = (3.0 / 2.0) * (1.0 - sumV / totV)
    assert(out.getAs[Long]("n_units") == 400L &&
      out.getAs[Long]("k_items") == 3L)
    assert(out.getAs[Double]("sum_item_var") == sumV)
    assert(out.getAs[Double]("total_var") == totV)
    assert(out.getAs[Double]("alpha") == alpha)
    assert(alpha > 0.85, s"coherent battery should be reliable: $alpha")
    // independent items: alpha near 0
    val indep = (0 until 400).map(_ => ("g", rng.nextGaussian(),
      rng.nextGaussian(), rng.nextGaussian()))
    val ai = Stats.cronbachAlpha(indep.toDF("g", "a", "b", "c"),
      Seq("g"), Seq(col("a"), col("b"), col("c"))).head()
      .getAs[Double]("alpha")
    assert(math.abs(ai) < 0.25, s"independent battery near 0: $ai")
    // one reversed item drags alpha down hard (direction mix-up)
    val rev = units.map { case (g, a, b, c) => (g, a, b, -c) }
    val ar = Stats.cronbachAlpha(rev.toDF("g", "a", "b", "c"),
      Seq("g"), Seq(col("a"), col("b"), col("c"))).head()
      .getAs[Double]("alpha")
    assert(ar < 0.0, s"reversed item should sink alpha: $ar")
    // constant battery: total variance 0 -> null
    val const = (0 until 10).map(_ => ("g", 1.0, 2.0, 3.0))
    assert(Stats.cronbachAlpha(const.toDF("g", "a", "b", "c"),
      Seq("g"), Seq(col("a"), col("b"), col("c"))).head().isNullAt(5))
  }

  test("conformalThreshold: exact order statistic; coverage holds on exchangeable data; tiny-n null; apply face") {
    import spark.implicits._
    val rng = new scala.util.Random(101)
    val cal = (0 until 199).map(_ => ("g", rng.nextGaussian()))
    val out = Stats.conformalThreshold(cal.toDF("g", "s"), Seq("g"),
      col("s"), alpha = 0.1).head()
    val n = 199L
    val k = math.ceil(0.9 * (n + 1).toDouble).toLong
    assert(out.getAs[Long]("n") == n && out.getAs[Long]("k") == k)
    val thr = cal.map(_._2).sorted.apply(k.toInt - 1)
    assert(out.getAs[Double]("threshold") == thr)
    // exchangeable fresh points fall inside at >= 1 - alpha (approx)
    val fresh = (0 until 2000).map(_ => rng.nextGaussian())
    val cover = fresh.count(_ <= thr).toDouble / fresh.size
    assert(cover >= 0.85 && cover <= 0.97, s"coverage $cover")
    // k > n: no finite threshold carries the guarantee
    val tiny = Stats.conformalThreshold(
      (0 until 5).map(i => ("g", i.toDouble)).toDF("g", "s"),
      Seq("g"), col("s"), alpha = 0.01).head()
    assert(tiny.getAs[Long]("k") == 6L && tiny.isNullAt(3))
    // apply face: flags match, unknown group stays null
    val thrDf = Stats.conformalThreshold(cal.toDF("g", "s"), Seq("g"),
      col("s"), alpha = 0.1)
    val pts = Seq(("g", thr - 0.1), ("g", thr), ("g", thr + 0.1),
      ("other", 0.0)).toDF("g", "s")
    val applied = Stats.applyConformal(pts, thrDf, Seq("g"), col("s"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(applied(("g", thr - 0.1)) == Some(true))
    assert(applied(("g", thr)) == Some(true))
    assert(applied(("g", thr + 0.1)) == Some(false))
    assert(applied(("other", 0.0)) == None)
  }

  test("cmhTest: naive replay bitwise; kidney-stone Simpson fixture un-reverses; n=1 stratum zero variance") {
    import spark.implicits._
    // the classic kidney-stone table: treatment better WITHIN each
    // stratum, worse pooled
    def arm(st: String, t: Boolean, succ: Int, tot: Int) =
      (0 until tot).map(i => (st, t, i < succ))
    val rows = arm("s_small", true, 81, 87) ++
      arm("s_small", false, 234, 270) ++
      arm("s_large", true, 192, 263) ++
      arm("s_large", false, 55, 80) ++
      arm("z_solo", true, 1, 1) // n=1 stratum: zero variance, no crash
    val df = rows.toDF("st", "t", "o").withColumn("g", lit("all"))
    val out = Stats.cmhTest(df, Seq("g"), col("st"), col("t"),
      col("o")).head()
    // naive replay: per-stratum exact counts, fixed ascending order
    val strata = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (st, rs) =>
        val a = rs.count(r => r._2 && r._3).toLong
        val b = rs.count(r => r._2 && !r._3).toLong
        val c = rs.count(r => !r._2 && r._3).toLong
        val d = rs.count(r => !r._2 && !r._3).toLong
        (st, a, b, c, d)
    }
    var eS = 0.0; var vS = 0.0; var orN = 0.0; var orD = 0.0
    var aSum = 0L
    for ((_, a, b, c, d) <- strata) {
      val nT = a + b; val nC = c + d; val n = nT + nC
      val m1 = a + c; val m2 = n - m1
      aSum += a
      eS += (nT * m1).toDouble / n.toDouble
      vS += (if (n > 1)
        (nT.toDouble * nC.toDouble * m1.toDouble * m2.toDouble) /
          (n.toDouble * n.toDouble * (n - 1).toDouble) else 0.0)
      orN += (a.toDouble * d.toDouble) / n.toDouble
      orD += (b.toDouble * c.toDouble) / n.toDouble
    }
    assert(out.getAs[Long]("n_strata") == 3L)
    assert(out.getAs[Long]("a_sum") == aSum)
    assert(out.getAs[Double]("e_sum") == eS)
    assert(out.getAs[Double]("v_sum") == vS)
    assert(out.getAs[Double]("chi2") ==
      (aSum.toDouble - eS) * (aSum.toDouble - eS) / vS)
    assert(out.getAs[Double]("or_mh") == orN / orD)
    // Simpson: pooled OR says treatment hurts; CMH says it helps
    val (pa, pb, pc, pd) = (273L + 1L, 77L, 289L, 61L)
    val pooledOr = (pa.toDouble * pd.toDouble) /
      (pb.toDouble * pc.toDouble)
    assert(pooledOr < 1.0)
    assert(out.getAs[Double]("or_mh") > 1.0)
  }

  test("stratifiedLogRank: per-stratum fold bitwise; single stratum == plain; confounded fixture de-inflates") {
    import spark.implicits._
    val rng = new scala.util.Random(127)
    // confounding: stratum A is mostly cohort-1 AND short-lived,
    // stratum B mostly cohort-2 AND long-lived; WITHIN a stratum the
    // cohorts are identically distributed
    val subj = (0 until 400).map { i =>
      val stA = i % 4 != 0
      val c1 = if (stA) i % 8 != 0 else i % 8 == 0
      val dur = (if (stA) 1 + rng.nextInt(4) else 8 + rng.nextInt(6))
        .toDouble
      ("g", if (stA) "sA" else "sB", dur, rng.nextInt(5) > 0, c1)
    }
    val df = subj.toDF("g", "st", "dur", "ev", "c1")
    val out = Stats.stratifiedLogRank(df, Seq("g"), col("st"),
      col("dur"), col("ev"), col("c1")).head()
    // replay: the (spec'd) per-stratum log-rank outputs folded in
    // ascending stratum order with the same oe = o1 - e1 op
    var oeS = 0.0; var vS = 0.0; var n1 = 0L; var n2 = 0L; var o1 = 0L
    for (st <- Seq("sA", "sB")) {
      val r = Stats.logRank(df.filter(col("st") === st), Seq("g"),
        col("dur"), col("ev"), col("c1")).head()
      oeS += r.getAs[Long]("o1").toDouble - r.getAs[Double]("e1")
      vS += r.getAs[Double]("v")
      n1 += r.getAs[Long]("n1"); n2 += r.getAs[Long]("n2")
      o1 += r.getAs[Long]("o1")
    }
    assert(out.getAs[Long]("n_strata") == 2L)
    assert(out.getAs[Long]("n1") == n1 && out.getAs[Long]("n2") == n2)
    assert(out.getAs[Long]("o1") == o1)
    assert(out.getAs[Double]("oe_sum") == oeS)
    assert(out.getAs[Double]("v_sum") == vS)
    assert(out.getAs[Double]("z") == oeS / math.sqrt(vS))
    // the naive (unstratified) test is fooled by the confounder; the
    // stratified one is not
    val naive = Stats.logRank(df, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    assert(math.abs(naive) > 5.0, s"fixture should confound: $naive")
    assert(math.abs(out.getAs[Double]("z")) < 2.5,
      s"stratified z should deflate: ${out.getAs[Double]("z")}")
    // a single stratum reduces to the plain log-rank exactly
    val one = Stats.stratifiedLogRank(df, Seq("g"), lit("only"),
      col("dur"), col("ev"), col("c1")).head()
    val plain = Stats.logRank(df, Seq("g"), col("dur"), col("ev"),
      col("c1")).head()
    assert(one.getAs[Double]("v_sum") == plain.getAs[Double]("v"))
    // z re-derives oe from the reported (o1, e1) surface — the
    // documented definition (one ULP roundtrip vs the internal fold)
    val oePlain = plain.getAs[Long]("o1").toDouble -
      plain.getAs[Double]("e1")
    assert(one.getAs[Double]("oe_sum") == oePlain)
    assert(one.getAs[Double]("z") ==
      oePlain / math.sqrt(plain.getAs[Double]("v")))
    assert(math.abs(one.getAs[Double]("z") -
      plain.getAs[Double]("z")) < 1e-12)
  }

  test("gehanLogRank: naive replay bitwise; equals logRank z at a single event time; early-weighting") {
    import spark.implicits._
    val rng = new scala.util.Random(71)
    val subj = (0 until 120).map { i =>
      val c1 = i % 2 == 0
      val dur = if (c1) 1 + rng.nextInt(6) else 5 + rng.nextInt(8)
      ("g", dur.toDouble, rng.nextInt(5) > 0, c1)
    }
    val df = subj.toDF("g", "dur", "ev", "c1")
    val out = Stats.gehanLogRank(df, Seq("g"), col("dur"), col("ev"),
      col("c1")).head()
    // naive single-threaded replay with the weighted op order
    val times = subj.map(_._2).distinct.sorted
    var (u1, u2, oe, v) = (0L, 0L, 0.0, 0.0)
    val n1T = subj.count(_._4).toLong; val n2T = subj.size - n1T
    for (t <- times) {
      val at = subj.filter(_._2 == t)
      val d1 = at.count(s => s._4 && s._3).toLong
      val x1 = at.count(s => s._4 && !s._3).toLong
      val d2 = at.count(s => !s._4 && s._3).toLong
      val x2 = at.count(s => !s._4 && !s._3).toLong
      val n1 = n1T - u1; val n2 = n2T - u2; val n = n1 + n2
      val d = d1 + d2
      if (n > 1 && d > 0) {
        val w = n.toDouble
        oe += w * (d1.toDouble - d.toDouble * n1.toDouble / n.toDouble)
        v += w * w * (d.toDouble * (n1.toDouble / n.toDouble) *
          (n2.toDouble / n.toDouble) *
          ((n - d).toDouble / (n - 1).toDouble))
      }
      u1 += d1 + x1; u2 += d2 + x2
    }
    assert(out.getAs[Long]("n1") == n1T && out.getAs[Long]("n2") == n2T)
    assert(out.getAs[Double]("oe") == oe)
    assert(out.getAs[Double]("v") == v)
    assert(out.getAs[Double]("z") == oe / math.sqrt(v))
    assert(out.getAs[Double]("z") > 3.0) // same direction as logRank
    // single distinct event time: the weight cancels in z, so Gehan
    // and plain log-rank agree exactly
    val one = (0 until 40).map(i => ("g", 3.0, true, i % 2 == 0))
      .toDF("g", "dur", "ev", "c1")
    val gz = Stats.gehanLogRank(one, Seq("g"), col("dur"), col("ev"),
      col("c1")).head()
    val lz = Stats.logRank(one, Seq("g"), col("dur"), col("ev"),
      col("c1")).head()
    // both degenerate here (d1 == expected) — use a split fixture
    val one2 = ((0 until 30).map(i => ("g", 3.0, i % 3 > 0, i % 2 == 0)) ++
      (0 until 10).map(_ => ("g", 9.0, false, true))) // imbalance ⇒ oe ≠ 0
      .toDF("g", "dur", "ev", "c1")
    val gz2 = Stats.gehanLogRank(one2, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    val lz2 = Stats.logRank(one2, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    assert(math.abs(gz2 - lz2) < 1e-12,
      s"single-event-time Gehan z $gz2 vs logRank z $lz2")
    assert(gz != null && lz != null) // degenerate rows still emitted
    // EARLY-difference sensitivity: early gap + late reversal — Gehan
    // (n-weighted) leans on the early times harder than plain log-rank
    val cross = ((0 until 30).map(i => ("g", 1.0, i % 2 == 0, i % 2 == 0)) ++
      (0 until 30).map(i => ("g", 2.0, true, i % 2 == 0)) ++
      (0 until 60).map(i => ("g", 10.0 + (i % 3), true, i % 2 == 1)))
      .toDF("g", "dur", "ev", "c1")
    val gC = Stats.gehanLogRank(cross, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    val lC = Stats.logRank(cross, Seq("g"), col("dur"), col("ev"),
      col("c1")).head().getAs[Double]("z")
    assert(gC > lC, s"Gehan z $gC should exceed log-rank z $lC when " +
      "the cohort-1 excess is concentrated early")
  }

  test("ratioUplift: naive replay bitwise; calibrated under user clustering where per-event z is overconfident") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    // NULL effect + strong between-user rate heterogeneity: each
    // user's ~35 views share that user's OWN CTR, so clicks within a
    // user are correlated — the textbook per-event-overdispersion case
    val users = (0 until 300).map { u =>
      val views = 20 + rng.nextInt(30)
      val ctr = rng.nextDouble() // rate differs BY USER, not arm
      val clicks = (0 until views).count(_ => rng.nextDouble() < ctr)
      ("g", u.toLong, u % 2 == 0, clicks.toLong, views.toLong)
    }
    val df = users.toDF("g", "u", "t", "clicks", "views")
    val out = Stats.ratioUplift(df, Seq("g"), col("t"), col("u"),
      col("clicks"), col("views"), quantScale = 1.0).head()
    // naive single-threaded replay, same op order (quantScale 1: the
    // inputs are already integers, so floor(x·1) == x)
    def armStats(arm: Seq[(Long, Long)]): (Double, Double) = {
      val n = arm.size.toLong
      val sn = arm.map(_._1).sum; val sd = arm.map(_._2).sum
      val snn = arm.map(p => p._1 * p._1).sum
      val sdd = arm.map(p => p._2 * p._2).sum
      val snd = arm.map(p => p._1 * p._2).sum
      val nD = n.toDouble
      val r = sn.toDouble / sd.toDouble
      val cyy = snn.toDouble - sn.toDouble * sn.toDouble / nD
      val cyd = snd.toDouble - sn.toDouble * sd.toDouble / nD
      val cdd = sdd.toDouble - sd.toDouble * sd.toDouble / nD
      val dbar = sd.toDouble / nD
      (r, (cyy - 2.0 * r * cyd + r * r * cdd) / (nD - 1.0) / nD /
        (dbar * dbar))
    }
    val (rT, vT) = armStats(users.filter(_._3).map(u => (u._4, u._5)))
    val (rC, vC) = armStats(users.filterNot(_._3).map(u => (u._4, u._5)))
    assert(out.getAs[Double]("ratio_t") == rT)
    assert(out.getAs[Double]("ratio_c") == rC)
    assert(out.getAs[Double]("uplift") == rT - rC)
    assert(out.getAs[Double]("se") == math.sqrt(vT + vC))
    assert(out.getAs[Double]("z") == (rT - rC) / math.sqrt(vT + vC))
    // the delta-method z is calibrated under the null...
    assert(math.abs(out.getAs[Double]("z")) < 2.5,
      s"delta z ${out.getAs[Double]("z")} should not flag a null effect")
    // ...while the naive per-event binomial z (clicks as independent
    // Bernoulli trials) is wildly overconfident: its SE is far smaller
    // than the clustering-aware one
    val xT = users.filter(_._3).map(_._4).sum.toDouble
    val nT = users.filter(_._3).map(_._5).sum.toDouble
    val xC = users.filterNot(_._3).map(_._4).sum.toDouble
    val nC = users.filterNot(_._3).map(_._5).sum.toDouble
    val pPool = (xT + xC) / (nT + nC)
    val seNaive = math.sqrt(pPool * (1 - pPool) * (1 / nT + 1 / nC))
    assert(math.sqrt(vT + vC) > 3.0 * seNaive,
      "clustering-aware SE should dwarf the per-event binomial SE " +
        s"(${math.sqrt(vT + vC)} vs $seNaive)")
    // degenerate guards: empty arm and zero denominators give nulls
    val deg = Stats.ratioUplift(df.filter(col("t")), Seq("g"), col("t"),
      col("u"), col("clicks"), col("views"), quantScale = 1.0).head()
    assert(deg.isNullAt(deg.fieldIndex("ratio_c")) &&
      deg.isNullAt(deg.fieldIndex("z")))
  }

  test("positionAttribution: hand credits exact; efficiency and null-player axioms; decay ordering") {
    import spark.implicits._
    import graft.operators.Attribution
    val day = 86400L
    def ts(d: Long) = new java.sql.Timestamp(d * day * 1000L)
    // u1: a→b→c over 3 days, converts; u2: b only, converts;
    // u3: c→a 14 days apart, converts; u4: a→b, does NOT convert
    val rows = Seq(
      ("u1", "a", ts(0), 1L, true), ("u1", "b", ts(1), 2L, true),
      ("u1", "c", ts(2), 3L, true),
      ("u2", "b", ts(5), 4L, true),
      ("u3", "c", ts(0), 5L, true), ("u3", "a", ts(14), 6L, true),
      ("u4", "a", ts(0), 7L, false), ("u4", "b", ts(1), 8L, false))
    val df = rows.toDF("u", "ch", "ts", "eid", "cv")
    val got = Attribution.positionAttribution(df, col("u"), col("ch"),
        col("ts"), col("eid"), col("cv"), Seq("a", "b", "c", "d"),
        halfLifeDays = 7.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))))
      .toMap
    // first touch: u1→a, u2→b, u3→c; last: u1→c, u2→b, u3→a
    assert(got("a")._1 == 1L && got("b")._1 == 1L && got("c")._1 == 1L)
    assert(got("a")._2 == 1L && got("b")._2 == 1L && got("c")._2 == 1L)
    // u-shaped: u1 (k=3) → 400000/200000/400000; u2 (k=1) → 1000000;
    // u3 (k=2) → 500000 each
    assert(got("a")._3 == 400000L + 500000L)
    assert(got("b")._3 == 200000L + 1000000L)
    assert(got("c")._3 == 400000L + 500000L)
    // time-decay, halfLife 7d: u1 deltas (2,1,0) days → 0 halvings
    // each → equal thirds; u2 → all; u3: c is 14d before a → 2
    // halvings → w=(0.25,1) → c 200000, a 800000
    assert(got("a")._4 == 333333L + 800000L)
    assert(got("b")._4 == 333333L + 1000000L)
    assert(got("c")._4 == 333333L + 200000L)
    // null player: d touched by nobody → exact zeros
    assert(got("d") == ((0L, 0L, 0L, 0L)))
    // efficiency: firsts and lasts each sum to converting users with
    // a path (3); u/td numerators within |touches| of 10⁶·conversions
    val conv = 3L
    assert(got.values.map(_._1).sum == conv)
    assert(got.values.map(_._2).sum == conv)
    val touches = 6L
    assert(math.abs(got.values.map(_._3).sum - 1000000L * conv) <= touches)
    assert(math.abs(got.values.map(_._4).sum - 1000000L * conv) <= touches)
    // non-converter u4 earned nothing: a's credit is from u1/u3 only
    // (already asserted by the exact values above)
  }

  test("sprt: hand llr exact; strong evidence crosses the right boundary; symmetric flip") {
    import spark.implicits._
    // 100 trials, 70 successes: strong evidence for p1 = 0.7 vs 0.3
    val rows = (0 until 100).map(i => ("g", i < 70))
    val out = Stats.sprt(rows.toDF("g", "o"), Seq(col("g")), col("o"),
      p0 = 0.3, p1 = 0.7).head()
    val lnWin = math.log(0.7 / 0.3)
    val lnLose = math.log((1.0 - 0.7) / (1.0 - 0.3))
    val llr = 70.0 * lnWin + 30.0 * lnLose
    assert(out.getAs[Long]("n") == 100L && out.getAs[Long]("x") == 70L)
    assert(out.getAs[Double]("llr") == llr)
    assert(out.getAs[Double]("upper") == math.log((1.0 - 0.2) / 0.05))
    assert(out.getAs[Double]("lower") == math.log(0.2 / (1.0 - 0.05)))
    assert(out.getAs[String]("decision") == "accept_h1")
    // 30/100 successes: the mirror-image evidence accepts H0
    val flip = Stats.sprt((0 until 100).map(i => ("g", i < 30))
        .toDF("g", "o"), Seq(col("g")), col("o"), p0 = 0.3, p1 = 0.7)
      .head()
    assert(flip.getAs[String]("decision") == "accept_h0")
    // a near-even split with few trials keeps sampling
    val cont = Stats.sprt((0 until 10).map(i => ("g", i < 5))
        .toDF("g", "o"), Seq(col("g")), col("o"), p0 = 0.45, p1 = 0.55)
      .head()
    assert(cont.getAs[String]("decision") == "continue")
    intercept[IllegalArgumentException] {
      Stats.sprt(rows.toDF("g", "o"), Seq(col("g")), col("o"),
        p0 = 0.5, p1 = 0.5)
    }
  }

  test("msprt: hand formula exact; planted effect flags, null does not; degenerate guards") {
    import spark.implicits._
    // strong effect: 70% vs 30% over 400/400
    val strong = (0 until 400).map(i => ("g", true, i < 280)) ++
      (0 until 400).map(i => ("g", false, i < 120))
    val out = Stats.msprt(strong.toDF("g", "t", "o"), Seq(col("g")),
      col("t"), col("o"), tauSq = 1e-4).head()
    val pT = 280.0 / 400.0; val pC = 120.0 / 400.0
    val theta = pT - pC
    val s2 = pT * (1.0 - pT) / 400.0 + pC * (1.0 - pC) / 400.0
    // Spark's codegen'd exp is StrictMath.exp (Math.exp's intrinsic
    // can differ by 1 ulp on x86)
    val lam = math.sqrt(s2 / (s2 + 1e-4)) *
      StrictMath.exp(theta * theta * 1e-4 / (2.0 * s2 * (s2 + 1e-4)))
    assert(out.getAs[Double]("theta") == theta)
    assert(out.getAs[Double]("s2") == s2)
    assert(out.getAs[Double]("lambda") == lam)
    assert(out.getAs[Double]("p_always_valid") ==
      math.min(1.0, 1.0 / lam))
    assert(out.getAs[Boolean]("significant"))
    assert(out.getAs[Double]("p_always_valid") < 0.01)
    // null effect: p pegs at 1, not significant
    val nul = (0 until 400).map(i => ("g", i % 2 == 0, i % 5 == 0))
    val q = Stats.msprt(nul.toDF("g", "t", "o"), Seq(col("g")),
      col("t"), col("o")).head()
    assert(!q.getAs[Boolean]("significant"))
    assert(q.getAs[Double]("p_always_valid") > 0.5)
    // degenerate: both arms all-success ⇒ s2 = 0 ⇒ null lambda/p
    val deg = Stats.msprt(Seq(("g", true, true), ("g", false, true))
      .toDF("g", "t", "o"), Seq(col("g")), col("t"), col("o")).head()
    assert(deg.isNullAt(deg.fieldIndex("lambda")) &&
      deg.isNullAt(deg.fieldIndex("significant")))
  }

  test("qiniCurve: informative score lifts the curve above baseline; last bucket closes at zero; exact replay") {
    import spark.implicits._
    // 1000 units, 5 buckets of 200: score = persuadability; treated
    // units convert iff persuadable (score > 0.8), controls never —
    // a model that perfectly ranks persuadables first
    val rows = (0 until 1000).map { i =>
      val score = (999 - i).toDouble / 1000.0 // distinct, desc by i
      val t = i % 2 == 0
      val o = t && score > 0.8
      ("g", t, o, score, i.toLong)
    }
    val out = Stats.qiniCurve(rows.toDF("g", "t", "o", "s", "id"),
        Seq("g"), col("t"), col("o"), col("s"), col("id"), buckets = 5)
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    // bucket 1 = top 200 by score = i in 0..199: 100 treated, all
    // converted (score > 0.8); 100 control, none
    assert(out(1)._1 == 100L && out(1)._2 == 100L)
    assert(out(1)._3 == 100L && out(1)._4 == 0L)
    assert(out(1)._5 == 100.0) // gain = 100 − 0·1
    // total gain = 100 (only the top fifth converts); baseline at
    // bucket 1 = 100·(200/1000) = 20 ⇒ contrib 80
    assert(out(1)._6 == 20.0 && out(1)._7 == 80.0)
    // an informative model: strictly positive contribs until the
    // curve closes; the LAST bucket always closes at exactly zero
    assert(out(5)._5 == 100.0 && out(5)._6 == 100.0 && out(5)._7 == 0.0)
    assert((1 to 4).forall(b => out(b)._7 > 0.0))
    // cumulative counts telescope to the totals
    assert(out(5)._1 == 500L && out(5)._3 == 500L)
  }

  test("poissonBootstrapMean: naive md5 replay bitwise; CI brackets the mean; layout-proof") {
    import spark.implicits._
    val rng = new scala.util.Random(127)
    val rows = (0 until 400).map { u =>
      ("g" + (u % 2), u.toLong, 50.0 + rng.nextInt(100).toDouble) }
    val df = rows.toDF("g", "u", "v")
    val out = Stats.poissonBootstrapMean(df, Seq("g"), col("u"),
        col("v"), reps = 100, quantScale = 1e3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // naive single-threaded replay: same md5 uniforms, same literal
    // thresholds, same exact sums, same sorted-order folds
    def u01(unit: String, rep: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$unit:$rep".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) + 1).toDouble /
        1152921504606846976.0
    }
    def pw(u: Double): Long = {
      val cdf = Stats.PoissonCdf
      val i = cdf.indexWhere(u <= _)
      if (i < 0) 8L else i.toLong
    }
    for (grp <- Seq("g0", "g1")) {
      val units = rows.filter(_._1 == grp)
        .map { case (_, u, v) => (u.toString, math.floor(v * 1e3).toLong) }
      val means = (0 until 100).flatMap { rep =>
        var nw = 0L; var sw = 0L
        units.foreach { case (u, qv) =>
          val w = pw(u01(u, rep)); nw += w; sw += w * qv }
        if (nw > 0) Some(sw.toDouble / nw.toDouble / 1e3) else None
      }.sorted
      val b = means.size
      val mbar = means.foldLeft(0.0)(_ + _) / b.toDouble
      val ss = means.foldLeft(0.0)((a, x) => a + (x - mbar) * (x - mbar))
      val se = math.sqrt(ss / (b.toDouble - 1.0))
      val sv = units.map(_._2).sum
      val mean = sv.toDouble / units.size.toDouble / 1e3
      val (nU, m, lo, hi, seB) = out(grp)
      assert(nU == units.size.toLong)
      assert(m == mean)
      assert(lo == means(math.min(2, b - 1)), s"ci_lo $grp") // idx 3, 1-based
      assert(hi == means(math.min(96, b - 1)), s"ci_hi $grp")
      assert(seB == se, s"se $grp")
      // the percentile CI brackets the full-sample mean here
      assert(lo < mean && mean < hi)
      assert(lo < hi && se > 0.0)
    }
    // layout invariance: reversed + repartitioned input, bitwise
    val again = Stats.poissonBootstrapMean(
        rows.reverse.toDF("g", "u", "v").repartition(7), Seq("g"),
        col("u"), col("v"), reps = 100, quantScale = 1e3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(again == out)
  }

  test("bhAdjust: the textbook adjusted p-values; ties break by id; per-group n") {
    import spark.implicits._
    // classic 4-test example: adjusted = [0.02, 0.02, 0.04, 0.04]
    val df = Seq((1L, 0.01), (2L, 0.04), (3L, 0.03), (4L, 0.005))
      .map { case (id, p) => ("a", id, p) }
      .toDF("g", "id", "p")
    val got = Stats.bhAdjust(df, Seq("g"), col("id"), col("p"))
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(4L) == ((0.005, 1L, 0.005 * 4 / 1)))
    assert(got(1L) == ((0.01, 2L, 0.01 * 4 / 2)))
    assert(got(3L) == ((0.03, 3L, 0.04 * 4 / 4))) // suffix min pulls down
    assert(got(2L) == ((0.04, 4L, 0.04 * 4 / 4)))
    // p_adj never exceeds 1, is >= p, and is monotone in rank
    val rng = new scala.util.Random(61)
    val big = (0 until 300).map(i =>
      (s"g${i % 3}", i.toLong, rng.nextInt(100) / 100.0))
    val out = Stats.bhAdjust(big.toDF("g", "id", "p"), Seq("g"),
        col("id"), col("p"))
      .collect().map(r => (r.getString(0), r.getLong(3)) ->
        ((r.getDouble(2), r.getDouble(4))))
    out.groupBy(_._1._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._1._2).map(_._2)
      assert(byRank.forall { case (p, adj) => adj >= p - 1e-15 && adj <= 1.0 })
      assert(byRank.map(_._2).zip(byRank.map(_._2).tail)
        .forall { case (a, b) => b >= a }) // monotone non-decreasing
    }
    // identical p-values: ranks (and hence the frame) deterministic by id
    val tied = Seq(("a", 10L, 0.5), ("a", 7L, 0.5), ("a", 3L, 0.5))
      .toDF("g", "id", "p")
    val tr = Stats.bhAdjust(tied, Seq("g"), col("id"), col("p"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(tr == Map(3L -> 1L, 7L -> 2L, 10L -> 3L))
  }

  test("mannWhitneyU: naive midrank differential, ties corrected, shift direction, nulls") {
    import spark.implicits._
    def naive(a: Seq[Long], b: Seq[Long]): (Long, Double, Double) = {
      val pooled = (a.map((_, 1)) ++ b.map((_, 2))).sortBy(_._1)
      // doubled midranks per tie block
      val r2 = scala.collection.mutable.Map[Long, Long]()
      var i = 0
      while (i < pooled.size) {
        val v = pooled(i)._1
        val j = pooled.indexWhere(_._1 != v, i) match {
          case -1 => pooled.size; case x => x }
        r2(v) = (i + 1).toLong + j.toLong // first rank + last rank
        i = j
      }
      val r1x2 = a.map(r2).sum
      val u1 = (r1x2 - a.size.toLong * (a.size + 1)).toDouble / 2.0
      val n = (a.size + b.size).toLong
      val ties = (a ++ b).groupBy(identity).values
        .map(g => g.size.toLong).map(t => t * t * t - t).sum
      val n1n2 = a.size.toDouble * b.size.toDouble
      val varU = n1n2 / 12.0 *
        ((n + 1).toDouble - ties.toDouble / (n * (n - 1)).toDouble)
      (r1x2, u1, (u1 - n1n2 / 2.0) / math.sqrt(varU))
    }
    def run(a: Seq[Long], b: Seq[Long]): (Long, Long, Long, Double, Double) = {
      val df = (a.map(("g", true, _)) ++ b.map(("g", false, _)))
        .toDF("g", "coh", "x")
      val r = Stats.mannWhitneyU(df, Seq(col("g")), col("x"), col("coh"))
        .collect()(0)
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
    }
    // textbook no-tie fixture: A={1,2,3}, B={4,5,6} → U1 = 0, max shift
    val lo = run(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))
    assert(lo._4 == 0.0 && lo._5 < -1.9, s"$lo")
    // reversed cohorts: U1 = n1*n2 = 9, positive z of the same magnitude
    val hi = run(Seq(4L, 5L, 6L), Seq(1L, 2L, 3L))
    assert(hi._4 == 9.0 && hi._5 == -lo._5)
    // fuzzed differential with heavy ties, bitwise
    val rnd = new scala.util.Random(19)
    val fa = Seq.fill(250)(rnd.nextInt(12).toLong)
    val fb = Seq.fill(180)((rnd.nextInt(12) + 2).toLong)
    val got = run(fa, fb)
    val want = naive(fa, fb)
    assert((got._3, got._4, got._5) == want, s"$got vs $want")
    assert(got._5 < 0, "down-shifted cohort 1 must give negative z")
    // layout invariance is bitwise
    val df = (fa.map(("g", true, _)) ++ fb.map(("g", false, _)))
      .toDF("g", "coh", "x")
    val a1 = Stats.mannWhitneyU(df, Seq(col("g")), col("x"), col("coh"))
      .collect()(0).toSeq
    val a2 = Stats.mannWhitneyU(df.repartition(13), Seq(col("g")),
      col("x"), col("coh")).collect()(0).toSeq
    assert(a1 == a2)
    // empty cohort and all-tied group → null z
    val one = Seq(("o", true, 1L), ("o", true, 2L)).toDF("g", "coh", "x")
    assert(Stats.mannWhitneyU(one, Seq(col("g")), col("x"), col("coh"))
      .collect()(0).isNullAt(5))
    val tied = Seq(("t", true, 5L), ("t", false, 5L), ("t", true, 5L))
      .toDF("g", "coh", "x")
    assert(Stats.mannWhitneyU(tied, Seq(col("g")), col("x"), col("coh"))
      .collect()(0).isNullAt(5))
  }

  test("mannKendall: naive differential with ties; planted trend; constant; guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    // heavy ties on purpose: values drawn from a small alphabet
    val rows = for (g <- Seq("a", "b"); t <- 0 until 30) yield
      (g, t, rnd.nextInt(8).toLong)
    val df = rows.toDF("g", "t", "v")
    def naive(vs: Seq[Long]): (Long, Option[Double], Option[Double]) = {
      val n = vs.size
      val s = (for (i <- 0 until n; j <- i + 1 until n)
        yield java.lang.Long.compare(vs(j), vs(i)).sign.toLong).sum
      val tie = vs.groupBy(identity).values
        .map(r => r.size.toLong).map(c => c * (c - 1) * (2 * c + 5)).sum
      val varS = (n.toLong * (n - 1) * (2L * n + 5) - tie).toDouble / 18.0
      val tau = 2.0 * s.toDouble / (n.toLong * (n - 1)).toDouble
      val z = if (varS > 0.0)
        Some(if (s > 0) (s - 1).toDouble / math.sqrt(varS)
        else if (s < 0) (s + 1).toDouble / math.sqrt(varS) else 0.0)
      else None
      (s, Some(tau), z)
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.mannKendall(d, Seq(col("g")), col("t"), col("v"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    val out = run(df)
    for (g <- Seq("a", "b")) {
      val vs = rows.filter(_._1 == g).sortBy(_._2).map(_._3)
      val (s, tau, z) = naive(vs)
      assert(out(g) == ((30L, s, tau, z)), s"group $g: ${out(g)} vs naive")
    }
    assert(run(df.repartition(7)) == out, "layout-exact")
    // strictly increasing: tau = 1 exactly, z strongly positive
    val up = (0 until 20).map(t => ("u", t, t.toLong * 3)).toDF("g", "t", "v")
    val (un, us, utau, uz) = { val r = run(up)("u"); (r._1, r._2, r._3, r._4) }
    assert(un == 20L && us == 190L && utau.contains(1.0))
    assert(uz.exists(_ > 5.0), s"monotone z $uz")
    // constant series: every pair tied, Var = 0 -> z null, tau 0
    val const = (0 until 10).map(t => ("c", t, 4L)).toDF("g", "t", "v")
    val c = run(const)("c")
    assert(c._2 == 0L && c._3.contains(0.0) && c._4.isEmpty)
    // maxLen guard
    val e = intercept[Exception] {
      Stats.mannKendall(df, Seq(col("g")), col("t"), col("v"), maxLen = 10)
        .collect()
    }
    assert(e.getMessage.contains("maxLen") ||
      e.getCause != null && e.getCause.getMessage.contains("maxLen"))
  }

  test("auc: hand cases, midrank ties, naive pair differential, one-class null") {
    import spark.implicits._
    def run(rows: Seq[(String, Double, Boolean)]) =
      Stats.auc(rows.toDF("g", "score", "label"), Seq(col("g")),
          col("score"), col("label"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // perfect separation, inverted, and a pure tie
    val hand = run(Seq(
      ("p", 3.0, true), ("p", 4.0, true), ("p", 1.0, false), ("p", 2.0, false),
      ("r", 1.0, true), ("r", 5.0, false),
      ("t", 2.0, true), ("t", 2.0, false)))
    assert(hand("p") == ((2L, 2L, Some(1.0))))
    assert(hand("r") == ((1L, 1L, Some(0.0))))
    assert(hand("t") == ((1L, 1L, Some(0.5)))) // tie pair counts 1/2
    // naive differential on fuzzed scores with ties
    val rnd = new scala.util.Random(17)
    val rows = (0 until 300).map(i =>
      ("f", rnd.nextInt(20).toDouble, rnd.nextBoolean()))
    val naive = {
      val pos = rows.filter(_._3).map(_._2)
      val neg = rows.filterNot(_._3).map(_._2)
      val wins = (for (p <- pos; q <- neg) yield
        if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
      wins / (pos.size.toDouble * neg.size.toDouble)
    }
    val f = run(rows)("f")
    assert(f._3.exists(a => math.abs(a - naive) < 1e-12), s"$f vs $naive")
    // a group with no negatives has no ranking to score
    assert(run(Seq(("x", 1.0, true), ("x", 2.0, true)))("x")._3.isEmpty)
  }

  test("logisticFit: naive quantized differential; separation learned; guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // y depends on x1 with noise; x2 is irrelevant
    val rows = (0 until 400).map { _ =>
      val x1 = rnd.nextDouble() * 4 - 2
      val x2 = rnd.nextDouble() * 4 - 2
      val y = x1 + rnd.nextGaussian() * 0.5 > 0
      (x1, x2, y)
    }
    val df = rows.toDF("x1", "x2", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.logisticFit(d, Seq(col("x1"), col("x2")), col("y"))
        .collect().head match { case r =>
          (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) }
    val (n, w0, w1, w2) = run(df)
    assert(n == 400L)
    // NAIVE replay: same quantization, same fold order, same cofactor
    // solve — must match bitwise
    def naive(iters: Int): Array[Double] = {
      val S = 1e6
      val w = Array(0.0, 0.0, 0.0)
      for (_ <- 1 to iters) {
        val g = Array(0L, 0L, 0L)
        val h = Array.ofDim[Long](3, 3)
        for ((x1v, x2v, yv) <- rows) {
          val xs = Array(1.0, x1v, x2v)
          val z = ((1.0 * w(0)) + (x1v * w(1))) + (x2v * w(2))
          val p = 1.0 / (1.0 + math.exp(-z))
          val y = if (yv) 1.0 else 0.0
          for (j <- 0 until 3)
            g(j) += math.floor(((y - p) * xs(j)) * S).toLong
          for (j <- 0 until 3; l <- j until 3)
            h(j)(l) += math.floor((((p * (1.0 - p)) * xs(j)) * xs(l)) * S)
              .toLong
        }
        val gd = g.map(_.toDouble / S)
        val a = Array.tabulate(3, 3) { (j, l) =>
          val (lo, hi) = if (j <= l) (j, l) else (l, j)
          h(lo)(hi).toDouble / S
        }
        val dw = Stats.solveFixed(a, gd)
        for (j <- 0 until 3) w(j) = w(j) + dw(j)
      }
      w
    }
    val expect = naive(3)
    assert((w0, w1, w2) == ((expect(0), expect(1), expect(2))),
      s"($w0,$w1,$w2) vs naive ${expect.toSeq}")
    // the signal was learned: strong positive x1 weight, x2 near zero,
    // and the fitted scores separate the classes (AUC via Stats.auc)
    assert(w1 > 1.0 && math.abs(w2) < w1 / 2, s"w1=$w1 w2=$w2")
    val scored = df.withColumn("s",
      Stats.logisticScore(Seq(col("x1"), col("x2")), Seq(w0, w1, w2)))
    val aucV = Stats.auc(scored, Seq(lit("all")), col("s"), col("y"))
      .collect().head.getDouble(3)
    assert(aucV > 0.9, s"fitted AUC $aucV")
    // layout invariance is bitwise (quantized sums are exact)
    assert(run(df.repartition(13)) == ((n, w0, w1, w2)))
    // duplicate feature -> exactly singular Hessian -> raise; ridge fixes
    val e = intercept[Exception] {
      Stats.logisticFit(df, Seq(col("x1"), col("x1")), col("y")).collect()
    }
    assert(e.getMessage.contains("singular"), s"got: $e")
    Stats.logisticFit(df, Seq(col("x1"), col("x1")), col("y"),
      ridge = 1e-3).collect() // must not throw
    // un-normalized features fail fast
    val big = df.withColumn("x1", col("x1") * 10000)
    val e2 = intercept[Exception] {
      Stats.logisticFit(big, Seq(col("x1"), col("x2")), col("y")).collect()
    }
    assert(e2.getMessage.contains("maxAbsFeature"), s"got: $e2")
    // elimination path (d = 3) learns the same signal
    val df3 = df.withColumn("x3", col("x2") * 0.5 + lit(1.0))
    val r3 = Stats.logisticFit(df3,
      Seq(col("x1"), col("x2"), col("x3")), col("y")).collect().head
    assert(r3.getDouble(2) > 1.0, s"d=3 w1 ${r3.getDouble(2)}")
  }

  test("calibration: reliability bins, Brier and ECE hand cases, guards") {
    import spark.implicits._
    def run(rows: Seq[(String, Double, Boolean)]) =
      Stats.calibrationError(rows.toDF("g", "s", "y"), Seq(col("g")),
          col("s"), col("y"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // perfectly calibrated, perfectly confident: both metrics exactly 0
    val perfect = run(Seq(("p", 0.0, false), ("p", 1.0, true)))
    assert(perfect("p") == ((2L, 0.0, 0.0)))
    // hand case: scores .1 (y=0) and .9 (y=1) in separate bins
    val (n, brier, ece) = run(Seq(("h", 0.1, false), ("h", 0.9, true)))("h")
    assert(n == 2L)
    assert(math.abs(brier - 0.01) < 1e-8, s"brier $brier")
    assert(math.abs(ece - 0.1) < 1e-8, s"ece $ece")
    // a maximally MIScalibrated scorer: confident and always wrong
    val bad = run(Seq(("b", 0.95, false), ("b", 0.05, true)))("b")
    assert(bad._2 > 0.9 && bad._3 > 0.9, s"miscalibration not loud: $bad")
    // reliability table: bins, counts, conf vs acc
    val rel = Stats.reliabilityTable(
        Seq(("g", 0.12, false), ("g", 0.18, true), ("g", 0.95, true))
          .toDF("g", "s", "y"), Seq(col("g")), col("s"), col("y"))
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rel.keySet == Set(1, 9))
    assert(rel(1)._1 == 2L && rel(1)._2 == 1L && rel(1)._4 == 0.5)
    assert(math.abs(rel(1)._3 - 0.15) < 1e-8)
    // score = 1.0 lands in the top bin (closed upper edge)
    val top = Stats.reliabilityTable(Seq(("g", 1.0, true)).toDF("g", "s", "y"),
      Seq(col("g")), col("s"), col("y")).collect().head
    assert(top.getInt(1) == 9)
    // out-of-range scores fail fast
    val e = intercept[Exception] {
      Stats.reliabilityTable(Seq(("g", 1.5, true)).toDF("g", "s", "y"),
        Seq(col("g")), col("s"), col("y")).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("[0, 1]")), s"got $e")
  }

  test("classificationReport: hand confusion incl. truth-only and hallucinated classes") {
    import spark.implicits._
    val df = Seq(("g", "a", "a"), ("g", "a", "b"), ("g", "b", "b"),
      ("g", "b", "b"), ("g", "c", "d")).toDF("g", "t", "p")
    val out = Stats.classificationReport(df, Seq(col("g")), col("t"), col("p"))
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double]),
        Option(r.get(6)).map(_.asInstanceOf[Double]),
        Option(r.get(7)).map(_.asInstanceOf[Double])))).toMap
    assert(out.keySet == Set("a", "b", "c", "d"))
    assert(out("a") == ((2L, 1L, 1L, Some(1.0), Some(0.5),
      Some(2.0 * 1 / 3))))
    assert(out("b") == ((2L, 3L, 2L, Some(2.0 / 3), Some(1.0),
      Some(2.0 * 2 / 5))))
    // truth-only class: precision undefined (never predicted), recall 0
    assert(out("c") == ((1L, 0L, 0L, None, Some(0.0), Some(0.0))))
    // hallucinated class: recall undefined (never true), precision 0
    assert(out("d") == ((0L, 1L, 0L, Some(0.0), None, Some(0.0))))
  }

  test("cochranQ + mcnemar: integer-form replay bitwise; Q(k=2) == McNemar chi2; unanimous null; incomplete block raises") {
    import spark.implicits._
    val rng = new scala.util.Random(113)
    // 3 judges over 120 items; judge j2 is markedly better
    val rates = Map("j0" -> 0.5, "j1" -> 0.55, "j2" -> 0.85)
    val rows = for (i <- 0 until 120; j <- Seq("j0", "j1", "j2"))
      yield ("g", i.toLong, j, rng.nextDouble() < rates(j))
    val out = Stats.cochranQ(rows.toDF("g", "item", "judge", "s"),
      Seq("g"), col("item"), col("judge"), col("s")).head()
    // integer-form replay
    val k = 3L
    val cj = Seq("j0", "j1", "j2").map(j =>
      rows.count(r => r._3 == j && r._4).toLong)
    val ri = (0 until 120).map(i =>
      rows.count(r => r._2 == i && r._4).toLong)
    val num = (k - 1) * (k * cj.map(c => c * c).sum -
      ri.sum * ri.sum)
    val den = k * ri.sum - ri.map(r => r * r).sum
    assert(out.getAs[Long]("n_items") == 120L &&
      out.getAs[Long]("k_judges") == 3L)
    assert(out.getAs[Double]("q_stat") == num.toDouble / den.toDouble)
    // textbook form agrees (pins the algebra)
    val nS = ri.sum.toDouble
    val qText = k * (k - 1) * cj.map(c =>
      (c - nS / k) * (c - nS / k)).sum / (k * nS - ri.map(r =>
      r * r).sum)
    assert(math.abs(out.getAs[Double]("q_stat") - qText) < 1e-9)
    assert(out.getAs[Double]("q_stat") > 30.0, "planted judge gap")
    // k=2: Q equals McNemar's chi2 exactly
    val pairs = (0 until 80).map(i =>
      ("g", i.toLong, rng.nextBoolean(), rng.nextDouble() < 0.7))
    val long2 = pairs.flatMap { case (g, i, a, b) =>
      Seq((g, i, "ja", a), (g, i, "jb", b)) }
    val q2 = Stats.cochranQ(long2.toDF("g", "item", "judge", "s"),
      Seq("g"), col("item"), col("judge"), col("s")).head()
    val mn = Stats.mcnemar(pairs.toDF("g", "item", "a", "b"),
      Seq("g"), col("a"), col("b")).head()
    val bC = pairs.count(p => p._3 && !p._4).toLong
    val cC = pairs.count(p => !p._3 && p._4).toLong
    assert(mn.getAs[Long]("b") == bC && mn.getAs[Long]("c") == cC)
    assert(mn.getAs[Double]("chi2") ==
      ((bC - cC) * (bC - cC)).toDouble / (bC + cC).toDouble)
    assert(q2.getAs[Double]("q_stat") == mn.getAs[Double]("chi2"))
    // unanimous items: zero denominator -> null
    val unan = (0 until 20).flatMap(i => Seq("j0", "j1").map(j =>
      ("g", i.toLong, j, i % 2 == 0)))
    assert(Stats.cochranQ(unan.toDF("g", "item", "judge", "s"),
      Seq("g"), col("item"), col("judge"), col("s")).head().isNullAt(3))
    // incomplete block fails fast
    val incomplete = rows.filterNot(r => r._2 == 5L && r._3 == "j2")
    val ex = intercept[Exception] {
      Stats.cochranQ(incomplete.toDF("g", "item", "judge", "s"),
        Seq("g"), col("item"), col("judge"), col("s")).collect()
    }
    assert(ex.getMessage.contains("complete blocks"))
  }

  test("fleissKappa: Fleiss-1971 worked table exact; perfect panel = 1; unequal panel fails fast; merged slices bitwise") {
    import spark.implicits._
    // the classic 10-item / 14-rater / 5-category worked example
    val table = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    val ratings = for {
      (row, i) <- table.zipWithIndex
      (cnt, j) <- row.zipWithIndex
      _ <- 0 until cnt
    } yield ("g", i.toLong, s"c$j")
    val out = Stats.fleissKappa(ratings.toDF("g", "item", "cat"),
      Seq("g"), col("item"), col("cat")).head()
    // naive replay with the same float-op order
    val nI = 10L; val nR = 14L
    val sumSq = table.flatten.map(c => c.toLong * c).sum
    val cj = (0 until 5).map(j => table.map(_(j).toLong).sum)
    val pBar = (sumSq - nI * nR).toDouble /
      (nI * nR * (nR - 1L)).toDouble
    val pE = cj.map(c => c * c).sum.toDouble /
      (nI * nR * (nI * nR)).toDouble
    val kappa = (pBar - pE) / (1.0 - pE)
    assert(out.getAs[Long]("n_items") == nI &&
      out.getAs[Long]("n_raters") == nR &&
      out.getAs[Long]("n_categories") == 5L)
    assert(out.getAs[Double]("p_bar") == pBar)
    assert(out.getAs[Double]("p_e") == pE)
    assert(out.getAs[Double]("kappa") == kappa)
    assert(math.abs(kappa - 0.2099) < 5e-4) // the published value
    // perfect agreement: every item unanimous, mixed marginals
    val perfect = (0 until 6).flatMap(i =>
      (0 until 3).map(_ => ("g", i.toLong, s"c${i % 2}")))
    assert(Stats.fleissKappa(perfect.toDF("g", "item", "cat"),
      Seq("g"), col("item"), col("cat")).head()
      .getAs[Double]("kappa") == 1.0)
    // unequal rating counts fail fast
    val uneven = ratings :+ (("g", 0L, "c0"))
    val ex = intercept[Exception] {
      Stats.fleissKappa(uneven.toDF("g", "item", "cat"),
        Seq("g"), col("item"), col("cat")).collect()
    }
    assert(ex.getMessage.contains("unequal rating counts"))
    // batch-sliced partials finalize bit-identically (no closed-item
    // contract: an item's ratings may straddle slices)
    val slices = Seq(ratings.take(30), ratings.slice(30, 95),
      ratings.drop(95)).map(s =>
      Stats.ratingCounts(s.toDF("g", "item", "cat"), Seq("g"),
        col("item"), col("cat")))
    val merged = Stats.fleissKappaFromCounts(
      Stats.mergeRatingCounts(slices, Seq("g")), Seq("g")).head()
    assert(merged.toSeq == out.toSeq)
  }

  test("ebShrinkRates: naive replay bitwise; sparse units shrink harder; rank honesty; degenerate keeps raw") {
    import spark.implicits._
    val rng = new scala.util.Random(89)
    // mixed-evidence units around a 0.3-ish true rate, plus the
    // classic honesty pair: 1/1 vs 980/1000
    val units = (0 until 80).map { i =>
      val n = 1 + rng.nextInt(200)
      val x = (0 until n).count(_ => rng.nextDouble() < 0.3)
      (s"u$i", n.toLong, x.toLong)
    } ++ Seq(("perfect_tiny", 1L, 1L), ("big", 1000L, 980L))
    val df = units.toDF("id", "n", "x")
    val q = 1e12
    val out = Stats.ebShrinkRates(df, Nil, col("id"), col("n"),
      col("x"), q).collect()
      .map(r => r.getString(0) -> r).toMap
    // naive replay: exact integer moment sums, same float tail
    val rates = units.map { case (_, n, x) => x.toDouble / n.toDouble }
    val qs = rates.map(r => math.floor(r * q).toLong)
    val m = units.size.toLong
    val s1 = qs.sum
    val s2 = qs.map(v => BigDecimal(v) * BigDecimal(v)).sum
    val md = m.toDouble
    val m1 = s1.toDouble / md / q
    val vq = (s2.toDouble - s1.toDouble * (s1.toDouble / md)) / (md - 1.0)
    val v = vq / (q * q)
    val c = m1 * (1.0 - m1) / v - 1.0
    assert(v > 0 && c > 0)
    val alpha = m1 * c; val beta = (1.0 - m1) * c
    for ((id, n, x) <- units) {
      val r = out(id)
      assert(r.getAs[Double]("alpha") == alpha)
      assert(r.getAs[Double]("beta") == beta)
      assert(r.getAs[Double]("shrunk_rate") ==
        (x.toDouble + alpha) / (n.toDouble + alpha + beta))
    }
    // honesty: the 1/1 unit no longer outranks the 980/1000 one
    assert(out("perfect_tiny").getAs[Double]("rate") >
      out("big").getAs[Double]("rate"))
    assert(out("perfect_tiny").getAs[Double]("shrunk_rate") <
      out("big").getAs[Double]("shrunk_rate"))
    // sparse units move farther toward the prior mean (relative pull)
    val pull = (id: String) => {
      val r = out(id)
      math.abs(r.getAs[Double]("shrunk_rate") - r.getAs[Double]("rate"))
    }
    assert(pull("perfect_tiny") > pull("big"))
    // degenerate: all rates identical -> null prior, raw kept
    val flat = Seq(("a", 10L, 5L), ("b", 100L, 50L), ("c", 4L, 2L))
    val fr = Stats.ebShrinkRates(flat.toDF("id", "n", "x"), Nil,
      col("id"), col("n"), col("x")).collect()
    assert(fr.forall(_.isNullAt(4)) &&
      fr.forall(r => r.getAs[Double]("shrunk_rate") ==
        r.getAs[Double]("rate")))
  }

  test("krippendorffAlpha: pair-enumeration replay bitwise; unequal panels; perfect = 1; singles drop; merged slices bitwise") {
    import spark.implicits._
    val rng = new scala.util.Random(97)
    // unequal panels: item i gets 1..6 ratings (singletons must drop)
    val ratings = (0 until 50).flatMap { i =>
      val ni = 1 + rng.nextInt(6)
      (0 until ni).map(_ => ("g", i.toLong, s"c${rng.nextInt(3)}"))
    }
    val q = 1e12
    val out = Stats.krippendorffAlpha(ratings.toDF("g", "item", "cat"),
      Seq("g"), col("item"), col("cat"), q).head()
    // independent replay: enumerate ordered rating pairs per item
    val byItem = ratings.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    val pairable = byItem.filter(_._2.size >= 2)
    val sd = pairable.values.map { rs =>
      val disagreeOrdered = (for (a <- rs; b <- rs) yield (a, b))
        .count { case (a, b) => a != b }
      math.floor((disagreeOrdered.toDouble /
        (rs.size - 1).toDouble) * q).toLong
    }.sum
    val n = pairable.values.map(_.size.toLong).sum
    val cc = pairable.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).values.toSeq
    val dO = (sd.toDouble / q) / n.toDouble
    val dE = (n * n - cc.map(c => c * c).sum).toDouble /
      (n * (n - 1L)).toDouble
    assert(out.getAs[Long]("n_items") == 50L)
    assert(out.getAs[Long]("n_pairable") == pairable.size.toLong)
    assert(out.getAs[Long]("n_ratings") == n)
    assert(out.getAs[Double]("d_o") == dO)
    assert(out.getAs[Double]("d_e") == dE)
    assert(out.getAs[Double]("alpha") == 1.0 - dO / dE)
    // (the operator computes D_o via the n_i²−Σn_ic² algebra; the
    // replay enumerated pairs — equality pins the identity as well)
    // singles drop: adding single-rating items changes nothing but n_items
    val plus = ratings ++ (100 until 110).map(i => ("g", i.toLong, "c9"))
    val out2 = Stats.krippendorffAlpha(plus.toDF("g", "item", "cat"),
      Seq("g"), col("item"), col("cat"), q).head()
    assert(out2.getAs[Long]("n_items") == 60L)
    assert(out2.getAs[Double]("alpha") == out.getAs[Double]("alpha"))
    // perfect agreement: every item unanimous, mixed categories
    val perfect = (0 until 8).flatMap(i =>
      (0 to i % 3).map(_ => ("g", i.toLong, s"c${i % 2}")))
      .filter(_ => true)
    val pf = Stats.krippendorffAlpha(
      (perfect ++ perfect).toDF("g", "item", "cat"),
      Seq("g"), col("item"), col("cat")).head()
    assert(pf.getAs[Double]("alpha") == 1.0)
    // merged straddling slices finalize bit-identically
    val slices = Seq(ratings.take(40), ratings.slice(40, 101),
      ratings.drop(101)).map(s =>
      Stats.ratingCounts(s.toDF("g", "item", "cat"), Seq("g"),
        col("item"), col("cat")))
    val merged = Stats.krippendorffAlphaFromCounts(
      Stats.mergeRatingCounts(slices, Seq("g")), Seq("g"), q).head()
    assert(merged.toSeq == out.toSeq)
  }

  test("cohenKappa: perfect 1, independence 0, degenerate null, exact hand value") {
    import spark.implicits._
    def run(rows: Seq[(String, String, String)]) =
      Stats.cohenKappa(rows.toDF("g", "a", "b"), Seq(col("g")),
          col("a"), col("b"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(run(Seq(("p", "x", "x"), ("p", "y", "y")))("p") ==
      ((2L, 2L, Some(1.0))))
    // balanced independence: agreement exactly at chance -> kappa 0
    assert(run(Seq(("i", "a", "a"), ("i", "a", "b"), ("i", "b", "a"),
      ("i", "b", "b")))("i") == ((4L, 2L, Some(0.0))))
    // both raters constant: N^2 = pe, no chance correction possible
    assert(run(Seq(("d", "x", "x"), ("d", "x", "x")))("d")._3.isEmpty)
    // textbook 2-class case: a=30+25=55, N=70, pe=40*35+30*35=2450
    // kappa = (55*70-2450)/(4900-2450) = 1400/2450
    val rows = Seq.fill(30)(("k", "y", "y")) ++ Seq.fill(10)(("k", "y", "n")) ++
      Seq.fill(5)(("k", "n", "y")) ++ Seq.fill(25)(("k", "n", "n"))
    assert(run(rows)("k") == ((70L, 55L, Some(1400.0 / 2450.0))))
  }

  test("mccBinary: perfect 1, inverted -1, chance 0, degenerate null, hand value") {
    import spark.implicits._
    def run(rows: Seq[(String, Boolean, Boolean)]) =
      Stats.mccBinary(rows.toDF("g", "t", "p"), Seq(col("g")),
          col("t"), col("p"))
        .collect().map(r => r.getString(0) ->
          Option(r.get(6)).map(_.asInstanceOf[Double])).toMap
    assert(run(Seq(("a", true, true), ("a", false, false)))("a") ==
      Some(1.0))
    assert(run(Seq(("b", true, false), ("b", false, true)))("b") ==
      Some(-1.0))
    // independence at balanced marginals -> exactly 0
    assert(run(Seq(("c", true, true), ("c", true, false),
      ("c", false, true), ("c", false, false)))("c") == Some(0.0))
    // one class absent -> undefined
    assert(run(Seq(("d", true, true), ("d", true, true)))("d").isEmpty)
    // hand case: tp=4 tn=2 fp=1 fn=3 -> (8-3)/sqrt(5*7*3*5)
    val rows = Seq.fill(4)(("h", true, true)) ++
      Seq.fill(2)(("h", false, false)) ++ Seq.fill(1)(("h", false, true)) ++
      Seq.fill(3)(("h", true, false))
    val got = run(rows)("h").get
    assert(math.abs(got - 5.0 / math.sqrt(525.0)) < 1e-15, s"mcc $got")
  }

  test("gini: textbook values, tie-invariant, layout-stable") {
    import spark.implicits._
    // perfect equality → 0; maximal concentration (one owner) → (n-1)/n
    val eq = Seq.fill(10)(("e", 5L)).toDF("g", "x")
    val conc = (Seq.fill(9)(("c", 0L)) :+ (("c", 100L))).toDF("g", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.gini(d, Seq("g"), col("x")).collect()
        .map(r => r.getString(0) -> Option(r.get(3))).toMap
    assert(run(eq)("e").get == 0.0)
    assert(run(conc)("c").get == 0.9)
    // hand-computed mixed case: x = 1,2,3,4 → G = (2·30 − 5·10)/(4·10)
    val mixed = Seq(("m", 3L), ("m", 1L), ("m", 4L), ("m", 2L))
      .toDF("g", "x")
    assert(run(mixed)("m").get == 0.25)
    // ties: rank assignment among equals is arbitrary but Σi·x is not —
    // identical result under shuffled layouts
    val rnd = new scala.util.Random(41)
    val tied = (1 to 500).map(_ => ("t", rnd.nextInt(5).toLong))
      .toDF("g", "x")
    val base = run(tied)
    assert(run(tied.repartition(13)) == base)
    assert(run(tied.coalesce(1)) == base)
    // all-zero group → null, not NaN
    assert(run(Seq(("z", 0L), ("z", 0L)).toDF("g", "x"))("z").isEmpty)
  }

  test("winsorize: clips into each group's own band; nulls pass through") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 400).map(i =>
      (s"g${i % 3}", Some(rnd.nextInt(1000).toDouble))) ++
      Seq(("g0", None), ("allnull", None))
    val df = rows.toDF("g", "v")
    val out = Stats.winsorize(df, Seq("g"), col("v"), 0.10, 0.90, "c")
    val bounds = df.filter(col("v").isNotNull).groupBy("g")
      .agg(percentile(col("v"), lit(0.10)).as("lo"),
        percentile(col("v"), lit(0.90)).as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val got = out.collect()
    assert(got.length == rows.length, "winsorize must not drop or dup rows")
    for (r <- got; if !r.isNullAt(1)) {
      val (lo, hi) = bounds(r.getString(0))
      val v = r.getDouble(1); val c = r.getDouble(2)
      assert(c >= lo && c <= hi)
      assert(c == math.min(math.max(v, lo), hi),
        s"clip mismatch: v=$v band=[$lo,$hi] got $c")
    }
    // null input → null output; all-null group survives the left join
    assert(got.filter(_.isNullAt(1)).forall(_.isNullAt(2)))
    assert(got.exists(r => r.getString(0) == "allnull"))
    // non-broadcast path is semantically identical
    val shuffled = Stats.winsorize(df, Seq("g"), col("v"), 0.10, 0.90, "c",
        broadcastBounds = false)
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(shuffled.sortBy(_.toString).toSeq ==
      got.map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
        .sortBy(_.toString).toSeq)
  }

  test("cliffsDelta: dominance extremes exact, identical cohorts 0, hand value") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Boolean)]) =
      Stats.cliffsDelta(rows.toDF("g", "x", "coh"), Seq(col("g")),
          col("x"), col("coh"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(6)) Double.NaN else r.getDouble(6))).toMap
    // cohort-1 strictly above: P(x1 > x2) = 1 -> delta = +1 exactly
    val dom = (0 until 10).map(i => ("d", 100L + i, true)) ++
      (0 until 10).map(i => ("d", i.toLong, false))
    assert(run(dom)("d") == 1.0)
    // mirrored -> -1 exactly
    assert(run(dom.map { case (g, x, c) => (g, x, !c) })("d") == -1.0)
    // identical distributions (all values tied) -> exactly 0
    val same = (0 until 20).map(i => ("e", 5L, i % 2 == 0))
    assert(run(same)("e") == 0.0)
    // hand value: cohort {3, 5} vs {4}: pairs (3<4), (5>4) ->
    // delta = (1 - 1)/2 = 0; add {6} -> {3,5,6} vs {4}: (2-1)/3
    val hand = Seq(("h", 3L, true), ("h", 5L, true), ("h", 6L, true),
      ("h", 4L, false))
    // (via the operator's own op order: 2·U₁/(n₁n₂) − 1 = 2·2/3 − 1)
    assert(run(hand)("h") == 2.0 * 2.0 / 3.0 - 1.0)
    // one empty cohort -> null
    assert(run((0 until 5).map(i => ("o", i.toLong, true)))("o").isNaN)
  }

  test("kruskalWallis: naive midrank differential bitwise; separation; ties; guards") {
    import spark.implicits._
    // independent replay: doubled midrank = minRank + maxRank, fixed
    // level-order fold
    def naive(vals: Seq[(String, Double)]): (Long, Long, Double, Double) = {
      val n = vals.size
      val sorted = vals.map(_._2).sorted
      val byV = sorted.zipWithIndex.groupBy(_._1).map { case (v, l) =>
        v -> (l.map(_._2 + 1).min + l.map(_._2 + 1).max).toLong }
      val byLevel = vals.groupBy(_._1)
      val hs = byLevel.toSeq.sortBy(_._1).foldLeft(0.0) {
        case (acc, (_, vs)) =>
          val r2 = vs.map(x => byV(x._2)).sum
          acc + r2.toDouble * r2.toDouble / vs.size.toDouble
      }
      val nD = n.toDouble
      val h = 3.0 / (nD * (nD + 1.0)) * hs - 3.0 * (nD + 1.0)
      val ties = sorted.groupBy(identity).values
        .map { g => val t = g.size.toLong; t * t * t - t }.sum
      val c = 1.0 - ties.toDouble / (nD * nD * nD - nD)
      (n.toLong, byLevel.size.toLong, h, if (c > 0) h / c else Double.NaN)
    }
    val rnd = new scala.util.Random(71)
    // heavy ties: integer values in a narrow range, 3 levels, 2 groups
    val rows = for (g <- Seq("u", "w"); i <- 0 until 120) yield
      (g, s"lv${i % 3}", (rnd.nextInt(12) + (if (i % 3 == 0) 3 else 0)).toDouble)
    val df = rows.toDF("g", "l", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.kruskalWallis(d, Seq(col("g")), col("l"), col("x"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3),
            if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    val got = run(df)
    for (g <- Seq("u", "w")) {
      val want = naive(rows.filter(_._1 == g).map(t => (t._2, t._3)))
      val gg = got(g)
      assert((gg._1, gg._2, gg._3) == ((want._1, want._2, want._3)), s"$g")
      assert(gg._4 == want._4 || (gg._4.isNaN && want._4.isNaN), s"$g adj")
    }
    assert(run(df.repartition(9)) == got) // bitwise layout invariance
    // perfectly separated levels -> H near its k-1-scaled max; mixed
    // identical levels -> H exactly 0 (all midranks equal across levels)
    val sep = ((0 until 20).map(i => ("s", "a", i.toDouble)) ++
      (0 until 20).map(i => ("s", "b", 100.0 + i))).toDF("g", "l", "x")
    assert(run(sep)("s")._3 > 25.0)
    val same = ((0 until 20).map(i => ("e", "a", (i % 4).toDouble)) ++
      (0 until 20).map(i => ("e", "b", (i % 4).toDouble))).toDF("g", "l", "x")
    val e = run(same)("e")
    assert(math.abs(e._3) < 1e-9 && math.abs(e._4) < 1e-9)
    // all values tied: tie correction degenerates -> null h_adj
    val tied = (0 until 12).map(i => ("t", s"lv${i % 3}", 5.0)).toDF("g", "l", "x")
    assert(run(tied)("t")._4.isNaN)
    // unbounded factor fails fast
    val wide = (0 until 50).map(i => ("v", s"l$i", i.toDouble)).toDF("g", "l", "x")
    val err = intercept[Exception] {
      Stats.kruskalWallis(wide, Seq(col("g")), col("l"), col("x"),
        maxLevels = 10).collect()
    }
    assert(err.getMessage.contains("maxLevels"))
    // merged partials == one-shot, bitwise (the streaming contract)
    val (h1, h2) = rows.zipWithIndex.partition(_._2 % 2 == 0)
    val parts = Seq(h1, h2)
      .map(half => half.map(_._1).toDF("g", "l", "x"))
      .map(p => Stats.levelValueCounts(p, Seq(col("g")), col("l"), col("x")))
    val merged = Stats.kruskalWallisFromLevelCounts(
        Stats.mergeLevelValueCounts(parts, Seq("g")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    assert(merged == got)
  }

  test("wilsonInterval: textbook values, boundary behavior, layout invariance") {
    import spark.implicits._
    // 85 successes of 100 (z = 1.96): the classic worked example
    val rows = (0 until 100).map(i => ("g", i < 85)) ++
      (0 until 20).map(i => ("zero", false)) ++
      (0 until 20).map(i => ("all", true))
    val df = rows.toDF("g", "ok")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.wilsonInterval(d, Seq(col("g")), col("ok"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    val got = run(df)
    // independent replay of the closed form
    def wilson(k: Long, n: Long): (Double, Double) = {
      val z = 1.96; val z2 = z * z; val nD = n.toDouble
      val p = k.toDouble / nD
      val denom = 1.0 + z2 / nD
      val c = (p + z2 / (2.0 * nD)) / denom
      val h = (z * math.sqrt(p * (1.0 - p) / nD +
        z2 / (4.0 * (nD * nD)))) / denom
      (math.max(0.0, c - h), math.min(1.0, c + h))
    }
    val (lo, hi) = wilson(85, 100)
    assert(got("g") == ((100L, 85L, 0.85, lo, hi)))
    // the interval actually brackets sensibly: ~[0.766, 0.905]
    assert(lo > 0.76 && lo < 0.77 && hi > 0.90 && hi < 0.91)
    // k = 0: lo clamps to exactly 0 but hi stays away from it (the
    // rule-of-three behavior the naive interval gets wrong)
    val z0 = got("zero")
    assert(z0._3 == 0.0 && z0._4 == 0.0 && z0._5 > 0.1)
    // k = n mirrors
    val a = got("all")
    assert(a._3 == 1.0 && a._5 == 1.0 && a._4 < 0.9)
    assert(run(df.repartition(7)) == got) // bitwise layout invariance
  }

  test("spearmanCorr: monotone extremes, naive midrank differential, ties, nulls") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Long)]) =
      Stats.spearmanCorr(rows.toDF("g", "x", "y"), Seq(col("g")),
          col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    // any monotone increasing y(x) → rho = 1 exactly; decreasing → -1
    val up = (1L to 20L).map(i => ("g", i, i * i))
    assert(run(up)("g")._5 == 1.0)
    val dn = (1L to 20L).map(i => ("g", i, 100L - 3L * i))
    assert(run(dn)("g")._5 == -1.0)
    // fuzzed differential vs a naive midrank Spearman — bitwise: the
    // same centered doubled-midrank integer sums and float tail
    def naive(xs: Seq[Long], ys: Seq[Long]): Double = {
      def dmr(v: Seq[Long]): Seq[Long] = {
        val sorted = v.sorted
        v.map { x =>
          val lt = sorted.count(_ < x).toLong
          val le = sorted.count(_ <= x).toLong
          lt + 1 + le // min rank + tie-inclusive count = doubled midrank
        }
      }
      val n = xs.size.toLong
      val dx = dmr(xs).map(_ - (n + 1))
      val dy = dmr(ys).map(_ - (n + 1))
      val num = dx.zip(dy).map { case (a, b) => a * b }.sum
      val dx2 = dx.map(a => a * a).sum
      val dy2 = dy.map(a => a * a).sum
      num.toDouble / math.sqrt(dx2.toDouble * dy2.toDouble)
    }
    val rnd = new scala.util.Random(23)
    val fx = Seq.fill(300)(rnd.nextInt(15).toLong) // heavy ties
    val fy = fx.zip(Seq.fill(300)(rnd.nextInt(15).toLong))
      .map { case (a, b) => a + b } // correlated, tied
    val rows = fx.zip(fy).map { case (a, b) => ("g", a, b) }
    val got = run(rows)("g")
    assert(got._5 == naive(fx, fy), s"$got vs ${naive(fx, fy)}")
    assert(got._5 > 0.3, "positively-coupled fixture must read positive")
    // layout invariance is bitwise (integer sums, fixed float tail)
    assert(run(rows.reverse) == run(rows))
    assert(Stats.spearmanCorr(rows.toDF("g", "x", "y").repartition(13),
        Seq(col("g")), col("x"), col("y"))
      .collect().map(_.toSeq).toSet ==
      Stats.spearmanCorr(rows.toDF("g", "x", "y"), Seq(col("g")),
          col("x"), col("y"))
        .collect().map(_.toSeq).toSet)
    // constant side → zero variance → null rho; n = 1 → null rho;
    // null x or y rows are dropped before ranking
    val edge = Seq(("flat", 1L, 7L), ("flat", 2L, 7L), ("flat", 3L, 7L),
      ("one", 5L, 5L))
    assert(run(edge)("flat")._5.isNaN && run(edge)("one")._5.isNaN)
    val withNulls = Seq(("g", Some(1L), Some(1L)), ("g", None, Some(2L)),
      ("g", Some(3L), None), ("g", Some(4L), Some(4L)))
      .toDF("g", "x", "y")
    val wn = Stats.spearmanCorr(withNulls, Seq(col("g")), col("x"), col("y"))
      .collect()(0)
    assert(wn.getLong(1) == 2L) // only the two complete rows rank
  }

  test("contingencyStats: 2x2 differential vs chiSquare2x2, extremes, merged partials") {
    import spark.implicits._
    def run(rows: Seq[(String, String, Long)]) =
      Stats.contingencyStats(rows.toDF("g", "a", "b"), Seq(col("g")),
          col("a"), col("b"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            if (r.isNullAt(5)) Double.NaN else r.getDouble(5),
            r.getDouble(6)))).toMap
    // 2x2 differential: the general r×c χ² must agree with the closed
    //2×2 determinant formula (different expression trees → tolerance)
    val rnd = new scala.util.Random(31)
    val two = Seq.fill(400)(("g",
      if (rnd.nextBoolean()) "x" else "y",
      if (rnd.nextInt(3) == 0) 0L else 1L))
    val got = run(two)("g")
    val chi22 = Stats.chiSquare2x2(two.toDF("g", "a", "b"),
        col("a") === "x", col("b") === 0L)
      .collect()(0).getAs[Double]("chi2")
    assert(math.abs(got._4 - chi22) < 1e-9, s"${got._4} vs $chi22")
    // perfect association on a k×k diagonal: χ² = n(k−1) and V = 1.0
    // exactly (the fold telescopes to integers)
    val diag = (1 to 90).map(i => ("g", s"c${i % 3}", (i % 3).toLong))
    val d = run(diag)("g")
    assert(d._4 == 90.0 * 2 && d._5 == 1.0, s"$d")
    // independence on a complete uniform grid: χ² = 0, MI = 0 (exact:
    // every cell term is nij²/(ri·cj) = 1/(k·k) summed k² times)
    val indep = for (i <- 1 to 5; j <- 1 to 4; _ <- 1 to 3)
      yield ("g", s"r$i", j.toLong)
    val ind = run(indep)("g")
    assert(math.abs(ind._4) < 1e-9 && math.abs(ind._6) < 1e-12, s"$ind")
    // single-column group: no dof → χ² = 0, null V
    val flat = Seq(("g", "only", 1L), ("g", "only", 2L), ("g", "only", 2L))
    val f = run(flat)("g")
    assert(f._2 == 1L && f._4 == 0.0 && f._5.isNaN)
    // MI differential vs a naive sorted-order fold — bitwise
    def naiveMi(rows: Seq[(String, Long)]): Double = {
      val n = rows.size.toLong
      val cells = rows.groupBy(identity).view.mapValues(_.size.toLong)
      val ri = rows.groupBy(_._1).view.mapValues(_.size.toLong)
      val cj = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      val fold = cells.toSeq.sortBy(_._1).foldLeft(0.0) {
        case (acc, ((a, b), nij)) =>
          acc + nij.toDouble * math.log(nij.toDouble /
            (ri(a).toDouble * cj(b).toDouble))
      }
      math.log(n.toDouble) + fold / n.toDouble
    }
    val fuzz = Seq.fill(500)((s"k${rnd.nextInt(4)}", rnd.nextInt(6).toLong))
    val fz = run(fuzz.map { case (a, b) => ("g", a, b) })("g")
    assert(fz._6 == naiveMi(fuzz), s"${fz._6} vs ${naiveMi(fuzz)}")
    assert(fz._6 >= -1e-12, "MI is nonnegative")
    // batch-sliced partials re-merged == one-shot, bitwise
    val df = fuzz.map { case (a, b) => ("g", a, b) }.toDF("g", "a", "b")
    val (h, t2) = fuzz.map { case (a, b) => ("g", a, b) }.splitAt(200)
    val m = Stats.contingencyFromCells(Stats.mergeContingencyCells(
      Seq(Stats.contingencyCells(h.toDF("g", "a", "b"), Seq(col("g")),
        col("a"), col("b")),
        Stats.contingencyCells(t2.toDF("g", "a", "b"), Seq(col("g")),
          col("a"), col("b"))), Seq("g")))
      .collect()(0).toSeq
    val whole = Stats.contingencyStats(df, Seq(col("g")), col("a"), col("b"))
      .collect()(0).toSeq
    assert(m == whole)
  }

  test("rankingMetrics: textbook lists, tie determinism, no-positive group, layout") {
    import spark.implicits._
    def run(rows: Seq[(String, Double, Long, Boolean)], k: Int = 10) =
      Stats.rankingMetrics(rows.toDF("g", "s", "id", "l"), Seq(col("g")),
          col("s"), col("id"), col("l"), k)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
            if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
            if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    // perfect ranking: positives at ranks 1..3 of 6 → mrr=1, ap=1, ndcg=1
    val perfect = Seq(("g", 0.9, 1L, true), ("g", 0.8, 2L, true),
      ("g", 0.7, 3L, true), ("g", 0.3, 4L, false), ("g", 0.2, 5L, false),
      ("g", 0.1, 6L, false))
    val p = run(perfect)("g")
    assert(p == ((6L, 3L, 1.0, 1.0, 1.0)), s"$p")
    // textbook AP: positives at ranks 1, 3, 5 →
    // AP = (1/1 + 2/3 + 3/5)/3; MRR = 1
    val mixed = Seq(("g", 0.9, 1L, true), ("g", 0.8, 2L, false),
      ("g", 0.7, 3L, true), ("g", 0.6, 4L, false), ("g", 0.5, 5L, true))
    val m2 = run(mixed)("g")
    assert(m2._3 == 1.0 && m2._4 == (1.0 + 2.0 / 3.0 + 3.0 / 5.0) / 3.0)
    // NDCG hand check: rel at 1,3 of k=3, one more positive below k →
    // DCG = 1/log2(2) + 1/log2(4); IDCG = 1/log2(2) + 1/log2(3) + 1/log2(4)
    val nd = Seq(("g", 0.9, 1L, true), ("g", 0.8, 2L, false),
      ("g", 0.7, 3L, true), ("g", 0.6, 4L, true))
    val n3 = run(nd, k = 3)("g")
    val want = (1.0 + 1.0 / (math.log(4) / math.log(2))) /
      (1.0 + 1.0 / (math.log(3) / math.log(2)) +
        1.0 / (math.log(4) / math.log(2)))
    assert(math.abs(n3._5 - want) < 1e-12, s"${n3._5} vs $want")
    // tied scores: the id tiebreak pins the order — id 2 (positive)
    // ranks AFTER id 1 (negative) at equal score, so mrr = 1/2
    val tied = Seq(("g", 0.5, 1L, false), ("g", 0.5, 2L, true))
    assert(run(tied)("g")._3 == 0.5)
    // no positives → null mrr/ap/ndcg, counts still real
    val none = run(Seq(("g", 0.9, 1L, false), ("g", 0.1, 2L, false)))("g")
    assert(none._1 == 2L && none._2 == 0L &&
      none._3.isNaN && none._4.isNaN && none._5.isNaN)
    // layout invariance is bitwise
    val rnd = new scala.util.Random(41)
    val fuzz = (1L to 300L).map(i =>
      (s"q${i % 4}", rnd.nextInt(50) / 50.0, i, rnd.nextInt(4) == 0))
    val a1 = run(fuzz)
    val a2 = Stats.rankingMetrics(
        fuzz.reverse.toDF("g", "s", "id", "l").repartition(9),
        Seq(col("g")), col("s"), col("id"), col("l"), 10)
      .collect().map(_.toSeq).toSet
    assert(a2 == Stats.rankingMetrics(fuzz.toDF("g", "s", "id", "l"),
      Seq(col("g")), col("s"), col("id"), col("l"), 10)
      .collect().map(_.toSeq).toSet)
    assert(a1.keySet == Set("q0", "q1", "q2", "q3"))
  }

  test("registered survival queries observe churn events on sf0.01 testdata") {
    val dir = "/root/testdata/sf0.01"
    def run(name: String) = SparkEntry.queries(name)(spark, dir).collect()
    // log-rank: churn events give the test a variance, so chi2 exists
    val lr = run("c_log_rank")
    assert(lr.length == 1)
    assert(!lr.head.isNullAt(lr.head.fieldIndex("chi2")),
      s"chi2 is null: ${lr.head}")
    // Kaplan-Meier: every cohort's curve steps below 1.0
    val km = run("c_kaplan_meier")
    val minSurv = km.groupBy(_.getAs[String]("cohort"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Double]("survival")).min }
    assert(minSurv.keySet == Set("c0", "c1", "c2"), s"$minSurv")
    minSurv.foreach { case (c, m) =>
      assert(m < 1.0, s"cohort $c never leaves survival 1.0")
    }
    // competing risks: both causes reach a positive incidence
    val cif = run("c_cuminc").groupBy(_.getAs[Int]("cause"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Double]("cif")).max }
    assert(cif.keySet == Set(1, 2), s"$cif")
    cif.foreach { case (k, m) =>
      assert(m > 0.0, s"cause $k has no incidence")
    }
  }
}
