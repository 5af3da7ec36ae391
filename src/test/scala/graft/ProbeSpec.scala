package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("probe-spec")

  override def afterAll(): Unit = spark.stop()

  private val q = "o4_topk_parts"

  private def failure(args: String*): String =
    intercept[IllegalArgumentException](Probe.parse(args)).getMessage

  private def stdout(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8")
  }

  test("parse: --noop is a flag wherever it stands, never a rep count") {
    assert(Probe.parse(Seq("time", q)) ==
      Probe.Time(Seq(q), "/root/testdata/sf0.1", 3, noop = false))
    assert(Probe.parse(Seq("time", q, "/sf", "--noop")) ==
      Probe.Time(Seq(q), "/sf", 3, noop = true))
    assert(Probe.parse(Seq("time", "--noop", q, "/sf", "5")) ==
      Probe.Time(Seq(q), "/sf", 5, noop = true))
  }

  test("parse: drift and scale read their settings as positionals") {
    assert(Probe.parse(Seq("drift", q, "4")) ==
      Probe.Drift(q, 4, "/root/testdata/sf0.1"))
    assert(Probe.parse(Seq("scale")) == Probe.Scale(200000, 100000, Nil))
    assert(Probe.parse(Seq("scale", "2000", "text", "edit1_join_100k")) ==
      Probe.Scale(2000, 100000, Seq("text", "edit1_join_100k")))
    assert(Probe.parse(Seq("plan")) == Probe.PlansMd)
  }

  test("parse: an unknown subcommand or flag fails naming it") {
    assert(failure("bogus").contains("unknown command 'bogus'"))
    assert(failure().contains("no command"))
    assert(failure("run", q, "--fast").contains("unknown flag '--fast'"))
  }

  test("parse: an unknown query, group or stage fails naming it") {
    assert(failure("run", "no_such_query").contains("unknown queries: no_such_query"))
    assert(failure("time", s"$q,nope_q").contains("unknown queries: nope_q"))
    assert(failure("plan", "tag", "nope_q").contains("nope_q"))
    assert(failure("drift", "nope_q").contains("nope_q"))
    assert(failure("scale", "no_such_stage").contains("no_such_stage"))
  }

  test("scale --list names every stage group and each stage once, with no session") {
    val lines = stdout(Probe.main(Array("scale", "--list")))
      .linesIterator.map(_.split(" ").toSeq).toSeq
    assert(lines.forall(_.size == 2))
    assert(lines.map(_.head).distinct == Seq("domain", "attribution", "text",
      "vectors", "multimodal", "tables", "graph", "shuffle", "er",
      "concordance", "er_maintenance", "edit_assoc"))
    val stages = lines.map(_(1))
    assert(stages.distinct.size == stages.size)
    // loop-built names are listed expanded; untimed setups are not listed
    assert(Seq("topk_agg_10M_100kgroups", "jaccard_prefix_cands_openvocab_200kdocs",
      "edit1_join_400k", "ivfpq_probe_pruning_files").forall(stages.contains))
    assert(!stages.contains("harrell_subjects"))
    // a stage needs only earlier stages of its own group, so running the
    // selection in catalog order runs every need first
    val cat = ProbeScale.catalog(sys.error("no session"), 0, 0)
    cat.zipWithIndex.foreach { case (s, i) =>
      s.needs.foreach { n =>
        val j = cat.indexWhere(_.name == n)
        assert(j >= 0 && j < i && cat(j).group == s.group, s"${s.name} needs $n")
      }
    }
  }

  test("run prints one ROW: line per row, then COUNT:") {
    val sf = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries(q)(spark, sf).collect()
    assert(expected.length > 2)
    val out = stdout(Probe.run(spark, Probe.parse(Seq("run", q, sf, "2"))))
      .linesIterator.filter(l => l.startsWith("ROW:") || l.startsWith("COUNT:")).toSeq
    assert(out == expected.take(2).map(r => "ROW:" + r.mkString(",")).toSeq :+
      "COUNT:2 (truncated at 2; more exist)")
    val all = stdout(Probe.run(spark, Probe.parse(Seq("run", q, sf))))
      .linesIterator.toSeq
    assert(all.count(_.startsWith("ROW:")) == expected.length)
    assert(all.contains(s"COUNT:${expected.length}"))
  }
}
