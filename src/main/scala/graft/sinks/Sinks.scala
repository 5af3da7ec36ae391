package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output formatting + sinks (SURVEY.md S7–S9, S11, C8/C10/C14).
  *
  * All "-" sentinels, percent strings and `>`-block layouts live here so
  * the relational lineage stays typed (`null`, `double`, `array`) until
  * the very last operator — the reference interleaves formatting with
  * compute (`/root/reference/MSA_Reader.py:806–1162`).
  */
object Sinks {

  /** Render nullable columns with the reference's `"-"` sentinel
    * (`/root/reference/MSA_Reader.py:716–724`). */
  def withDashSentinels(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(col(c).cast("string"), lit("-"))))

  /** S8 — single-file CSV with header, matching the reference's
    * one-file-per-report contract (`/root/reference/Time_Series.py:671`).
    * One file, rows in `df`'s order: an ordered `df` ends in one
    * partition, so [[graft.plans.OneTaskSort]] sorts it inside the writing
    * task instead of through a range exchange and its sampling job — but
    * only when the sort's input is post-shuffle work (an aggregate, a
    * partitioned window, a shuffling repartition) or a small local
    * relation. When that work is row-sized (an aggregate or window over
    * rows an earlier exchange already clustered on its keys), the rows
    * reach the writing task through an exchange into one partition, so
    * that work keeps its parallel tasks. Any other input (a scan, a cache
    * build, an RDD, an aggregate over a bucketed table) keeps the range
    * exchange, so its stages stay parallel; an unordered `df` is
    * coalesced as it is, so whatever has no exchange below it runs in the
    * one writing task. */
  def writeCsv(df: DataFrame, path: String, sep: String = ","): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("sep", sep).csv(path)

  /** S8 read side: a [[writeCsv]] output under its known `schema` (a DDL
    * string), so no header or type inference runs. */
  def readCsv(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S9 — grouped `>`-block text report:
    * {{{
    * >cluster_id, N sequences
    * code1
    * code2
    * <blank>
    * }}}
    * (`/root/reference/MSA_Reader.py:806–816`). `lines` must already be in
    * the desired within-group order (see Reports.infoByCluster). One
    * `concat_ws` per group, one text write — no per-line file I/O. */
  def writeBlockReport(grouped: DataFrame, headerCol: String,
      linesCol: String, path: String): Unit =
    grouped
      .select(concat(
        lit(">"), col(headerCol), lit("\n"),
        concat_ws("\n", col(linesCol))).as("value"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("lineSep", "\n\n").text(path)

  /** S7 — `where_reference.tsv`: protein → reference-cluster id, no header
    * (`/root/reference/Find_Reference_Clusters.R:86`). */
  def writeWhereReference(df: DataFrame, path: String): Unit =
    df.select(col("protein"), col("cluster_id"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "false").csv(path)

  /** S7 read side (`/root/reference/Time_Series.py:587–611`): a tiny
    * table read into a driver map. */
  def readWhereReference(spark: SparkSession, path: String): Map[String, String] =
    spark.read.option("sep", "\t").option("header", "false")
      .csv(path).select("_c0", "_c1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
}
