package graft.operators

import graft.core.VariantEvent
import org.apache.spark.sql.{Column, DataFrame, Dataset}
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

  /** J1+J2 — metadata ⋈ cluster map (inner, both large → sort-merge) then
    * ⋈ per-cluster variants (small → broadcast), plus F4 singleton
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
    * The region dimension is expanded Expand-style (each row contributes
    * itself + a `Worldwide` copy — exactly what GROUPING SETS does
    * physically) so one shuffle computes all regions; per-week totals and
    * zero-mutation counts are a second, tiny aggregate broadcast back onto
    * the code frequencies. Output columns: region, week_start, code, freq,
    * total_genomes (the week's row count = `Total_Genomes`),
    * zero_mutations (= `Zero_Mutations_in_<p>`), share. */
  def weeklyMatrix(joined: DataFrame): DataFrame = {
    val expanded = joined
      .withColumn("region", explode(array(col("region"), lit("Worldwide"))))
      .withColumn("week_start", TimeSeries.weekStart(col("date")))
    val totals = expanded.groupBy("region", "week_start")
      .agg(count(lit(1)).as("total_genomes"),
        sum(when(size(col("variants")) === 0, 1).otherwise(0)).as("zero_mutations"))
    val freqs = expanded
      .select(col("region"), col("week_start"), explode(col("variants")).as("code"))
      .groupBy("region", "week_start", "code")
      .agg(count(lit(1)).as("freq"))
    freqs.join(broadcast(totals), Seq("region", "week_start"))
      .withColumn("share", when(col("total_genomes") === 0, 0.0)
        .otherwise(col("freq").cast("double") / col("total_genomes")))
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
