package graft.operators

import graft.core.VariantEvent
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The metadata/time-series half of the pipeline (SURVEY.md §3.2):
  * J1/J2/J3 joins, A3 collect-codes, A4 AA-change counts, F4/F5 filters,
  * A5/A6/A7 weekly matrices — as ONE declarative flow instead of the
  * reference's file-per-stage loops (`/root/reference/Time_Series.py`).
  */
object VariantTimeSeries {

  /** A3 — codes per cluster, with the reference cluster appended as an
    * empty list (`/root/reference/Time_Series.py:502–565`): the reference
    * cluster emits no events, so it is unioned in explicitly (U2). */
  def variantsPerCluster(events: Dataset[VariantEvent], refClusterId: String,
      refClusterSize: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val collected = events.toDF()
      .groupBy(col("clusterId").as("cluster_id"))
      .agg(first(col("clusterSize")).as("cluster_size"),
        array_sort(collect_set(col("code"))).as("variants"))
    val refRow = Seq((refClusterId, refClusterSize, Seq.empty[String]))
      .toDF("cluster_id", "cluster_size", "variants")
    collected.unionByName(refRow)
      .orderBy(Reports.natKey(col("cluster_id")))
  }

  /** E3/A4 — amino-acid changes for ONE event row, as a pure column
    * expression (`/root/reference/Time_Series.py:393–467`):
    * sub = 1; del = #ref residues (1 if single-position);
    * ins/ext = #var residues; delins = both summed. */
  def aaChanges(varType: Column, refAA: Column, varAA: Column,
      refEnd: Column): Column = {
    def res(c: Column) = length(regexp_replace(c, "-", ""))
    when(varType === "sub", 1)
      .when(varType === "del", when(refEnd.isNull, 1).otherwise(res(refAA)))
      .when(varType === "ins" || varType === "ext", res(varAA))
      .when(varType === "delins", res(refAA) + res(varAA))
  }

  /** A4 — total AA changes per cluster: one aggregation over events, no
    * per-row per-code rescans (`/root/reference/Time_Series.py:516–562`). */
  def aaChangesPerCluster(events: Dataset[VariantEvent]): DataFrame =
    events.toDF()
      .withColumn("aa", aaChanges(col("varType"), col("refAA"),
        col("varAA"), col("refEnd")))
      .groupBy(col("clusterId").as("cluster_id"))
      .agg(sum(col("aa")).as("aa_changes"))

  /** J1+J2 — metadata ⋈ cluster map (inner; sort-merge when both sides
    * are large, while at report sizes the planner broadcasts one of them)
    * then ⋈ per-cluster variants (small → broadcast), plus F4 singleton
    * exclusion and F5 date validity
    * (`/root/reference/Time_Series.py:469–675`).
    *
    * `meta` columns: accession, cluster map key `gisaid_epi_isl`-style id,
    * `date` string, `region`. `clusterMap` maps accession → cluster_id.
    */
  def joinMetadata(meta: DataFrame, clusterMap: DataFrame,
      perCluster: DataFrame, minClusterSize: Int = 2): DataFrame = {
    val sized = clusterMap.join(
      broadcast(perCluster.select("cluster_id", "cluster_size", "variants")),
      Seq("cluster_id"), "left")
    meta.join(sized, Seq("accession"))
      .filter(col("cluster_size") >= minClusterSize)
      .filter(TimeSeries.validIsoDate(col("date")))
      .withColumn("date", to_date(col("date")))
      .withColumn("variants", coalesce(col("variants"), array()))
  }

  /** A5+A6+A7 — the full weekly matrix in long form, every continent AND
    * Worldwide together (`/root/reference/Time_Series.py:731–811, 868–897`).
    *
    * Input contract: `variants` is a function of `cluster_id`, as in every
    * frame [[joinMetadata]] builds. So the genome rows cross ONE data
    * exchange as keys with no code list, and are counted after it:
    *  - each row is projected to `(region, week_start, cluster_id)`, once
    *    as itself and once as a `Worldwide` copy;
    *  - the keys are hash-partitioned on `(region, week_start)`, then
    *    counted per `(region, week_start, cluster_id)`. The explicit
    *    repartition leaves no partial count before the exchange, so the
    *    shuffled rows scale with twice the genomes, not with the distinct
    *    keys; in return, no second exchange regroups the counts by week;
    *  - each cluster's list comes back through a broadcast of the
    *    distinct `(cluster_id, variants)` pairs, one per cluster by the
    *    contract;
    *  - the week's `total_genomes` and `zero_mutations` are sums of those
    *    cluster counts over `(region, week_start)`;
    *  - the codes are exploded and counted per
    *    `(region, week_start, code)` in the same partitions, which the
    *    `(region, week_start)` hashing already groups.
    * All of that runs in the stage after the exchange, with as many tasks
    * as `(region, week_start)` keys at most (≤ 7 × weeks). Its final
    * aggregate plans no exchange, so an ordered one-file write moves the
    * matrix rows into its one task through an exchange rather than
    * coalescing that stage ([[graft.plans.OneTaskSort]]).
    *
    * Output columns: region, week_start, code, freq, total_genomes (the
    * week's row count = `Total_Genomes`), zero_mutations
    * (= `Zero_Mutations_in_<p>`), share. */
  def weeklyMatrix(joined: DataFrame): DataFrame = {
    val week = Window.partitionBy("region", "week_start")
    val lists = joined.select("cluster_id", "variants").distinct()
    joined
      .select(explode(array(col("region"), lit("Worldwide"))).as("region"),
        TimeSeries.weekStart(col("date")).as("week_start"), col("cluster_id"))
      .repartition(col("region"), col("week_start"))
      .groupBy("region", "week_start", "cluster_id")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(lists), Seq("cluster_id"))
      .select(col("region"), col("week_start"), col("variants"), col("n"),
        sum(col("n")).over(week).as("total_genomes"),
        sum(when(size(col("variants")) === 0, col("n")).otherwise(0L)).over(week)
          .as("zero_mutations"))
      .select(col("region"), col("week_start"), explode(col("variants")).as("code"),
        col("n"), col("total_genomes"), col("zero_mutations"))
      .groupBy("region", "week_start", "code", "total_genomes", "zero_mutations")
      .agg(sum(col("n")).as("freq"))
      .select(col("region"), col("week_start"), col("code"), col("freq"),
        col("total_genomes"), col("zero_mutations"),
        // a week with a code row has at least that row's genomes
        (col("freq").cast("double") / col("total_genomes")).as("share"))
  }

  /** The [[weeklyMatrix]] columns and types, for reading its CSV back. */
  val WeeklyMatrixSchema: String = "region STRING, week_start DATE, code STRING, " +
    "freq LONG, total_genomes LONG, zero_mutations LONG, share DOUBLE"

  /** J8 — annotate each exploded variant-list element with its per-code
    * info (type, reference position) via a broadcast join to the distinct
    * code table — the reference probes the events frame once per element
    * in a Python loop (`/root/reference/Time_Series.py:409–412`). */
  def annotateVariantElements(joined: DataFrame,
      events: Dataset[VariantEvent]): DataFrame = {
    val codeInfo = events.toDF()
      .select(col("code"), col("varType"), col("refStart"))
      .dropDuplicates("code")
    joined.select(col("accession"), col("cluster_id"),
        explode(col("variants")).as("code"))
      .join(broadcast(codeInfo), Seq("code"), "left")
  }

  /** O5/O6 — top-n codes by total prevalence (share summed over weeks) or
    * by total frequency, from the weekly matrix
    * (`/root/reference/Plotting_Functions.py:624–730`). One aggregate +
    * TakeOrdered; ties break on code for determinism. */
  def topCodes(matrix: DataFrame, region: String, n: Int,
      by: String = "freq"): DataFrame =
    matrix.filter(col("region") === region)
      .groupBy("code")
      .agg(sum(col(by)).as("total"))
      .orderBy(col("total").desc, col("code").asc)
      .limit(n)

  /** A15 — total genomes across weeks with head/tail week trimming
    * (`/root/reference/Sequence_Counter.py:229–236`): weeks are ranked by
    * start date and the first `trimHead` / last `trimTail` excluded before
    * summing the per-week totals; `null` when no week is left. Input =
    * [[weeklyMatrix]] output (or any frame with week_start + total_genomes
    * per region).
    *
    * A series is bounded by its week count, so one global aggregate
    * gathers its distinct (week_start, total_genomes) pairs sorted by
    * week, and the kept index range is summed in that array. */
  def trimmedWeeklyTotal(matrix: DataFrame, region: String,
      trimHead: Int, trimTail: Int): DataFrame = {
    require(trimHead >= 0 && trimTail >= 0, "trims must be non-negative")
    val weeks = col("__weeks")
    matrix.filter(col("region") === region)
      .agg(array_sort(collect_set(struct(col("week_start"), col("total_genomes"))))
        .as("__weeks"))
      .select(aggregate(
        filter(weeks, (_, i) => i >= trimHead && i < size(weeks) - trimTail),
        lit(null).cast("long"),
        // an empty or all-null range sums to null, as `sum` does
        (acc, w) => when(w("total_genomes").isNull, acc)
          .otherwise(coalesce(acc, lit(0L)) + w("total_genomes").cast("long")))
        .as("total_genomes"))
  }

  /** A11 — weekly combination counts: the comma-joined variant list is the
    * key (`/root/reference/Time_Series.py:927–986`). */
  def weeklyCombos(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("region"),
        TimeSeries.weekStart(col("date")).as("week_start"),
        array_join(col("variants"), ",").as("combo"))
      .agg(count(lit(1)).as("freq"))

}
