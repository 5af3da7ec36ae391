package graft

import graft.operators._
import graft.sinks.Sinks
import graft.sources.Fasta
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete reference pipeline, end-to-end, as one Spark application
  * (SURVEY.md §3): a user of `wish1832/GISAID_Pipeline_Functions` points
  * this at the same inputs and gets the same products.
  *
  * Stages (reference stage → here):
  *  1. split by protein (`Protein_File_Splitter.py`) → partitioned write
  *  2. filter host/length/ambiguity (`Sequence_Filter.py`) → [[filtered]]
  *  3. USEARCH dedup → in-engine [[operators.Dedup.exactClusters]]
  *  4. clustalo alignment → EXTERNAL (its MSA output is our S1 input)
  *  5. find reference cluster (`Find_Reference_Clusters.R`) → [[RefCluster.find]]
  *  6. variant calling (`MSA_Reader.py`) → [[VariantCalling.callAgainstCluster]]
  *  7. reports (`MSA_Reader.py:806–1162`) → [[Reports]]
  *  8. weekly time series (`Time_Series.py`) → [[VariantTimeSeries]]
  */
object Pipeline {

  /** Stages 1–3 over a raw `allprot`-style FASTA. */
  def prepare(spark: SparkSession, fastaPath: String, outDir: String,
      refLenByProtein: Map[String, Int], lengthDelta: Int = 30,
      ambiguityCutoff: Double = 0.01): DataFrame = {
    val raw = Fasta.withHeaderFields(Fasta.read(spark, fastaPath).toDF())
    val refLens = spark.createDataFrame(refLenByProtein.toSeq)
      .toDF("protein", "ref_len")
    val filtered = raw
      .join(broadcast(refLens), Seq("protein")) // F2's per-protein band
      .filter(col("host") === "Human")
      .filter(length(col("seq")) >= col("ref_len") - lengthDelta &&
        length(col("seq")) < col("ref_len") + lengthDelta)
      .filter(Filters.charRatio(col("seq"), "X") <= ambiguityCutoff)
    Fasta.writePartitioned(filtered, "protein", s"$outDir/filtered")
    val clusters = Dedup.exactClusters(
      filtered.withColumn("id", col("accession")), col("id"), col("seq"))
    Sinks.writeCsv(clusters.select("cluster_id", "cluster_size", "first_id"),
      s"$outDir/clusters")
    filtered
  }

  /** A15 — sequence counts at each of the FIVE reference pipeline stages
    * (`/root/reference/Sequence_Counter.py:19–241`):
    *
    *  1. `1_raw` — raw FASTA records ("Sequences Downloaded")
    *  2. `2_filtered` — filtered records per protein
    *  3. `3_cluster_sizes` — Σ cluster sizes from the dedup table
    *     ("Sequences Clustered and Aligned", `Sequence_Counter.py:134–171`)
    *  4. `4_meta_linked` — rows of the metadata-with-variants join per
    *     protein ("Clustered Sequences Linked to Metadata",
    *     `Sequence_Counter.py:173–203`)
    *  5. `5_ts_total` — Σ total_genomes of the Worldwide weekly series
    *     after head/tail week trimming ("Metadata-Sequence Pairs Included
    *     in Time Series Analysis", `Sequence_Counter.py:205–241`)
    *
    * Stages 4–5 consume the per-protein frames the caller passes: an
    * in-flight frame or a product read back from its file, as the
    * reference re-reads its own TSV/CSV products (the GISAID spine passes
    * the weekly matrix read back from its CSV, so no aggregate re-runs).
    * One row per (stage, protein); a `null` protein carries a cross-protein
    * total (the raw file predates the protein split).
    *
    * Every input is scanned once and nothing runs until the caller's
    * action. `2_filtered` is one text scan of `$outDir/filtered` counting
    * `>` header lines per protein: the text source's partition discovery
    * finds the `protein=<p>` dirs through the Hadoop `FileSystem` (so
    * file://, hdfs:// and s3a:// all work), and the explicit schema keeps
    * the partition value a string (`protein=7` is `"7"`, not 7). The
    * few result rows come back in one partition, sorted inside its task
    * ([[plans.OneTaskSort]]) rather than through a range exchange. */
  def stageCounts(spark: SparkSession, fastaPath: String, outDir: String,
      metaWithVariants: Map[String, DataFrame] = Map.empty,
      weeklyMatrix: Map[String, DataFrame] = Map.empty,
      trimHead: Int = 0, trimTail: Int = 0): DataFrame = {
    val raw = Fasta.read(spark, fastaPath).toDF()
      .agg(count(lit(1)).as("n"))
      .select(lit("1_raw").as("stage"), lit(null).cast("string").as("protein"), col("n"))
    val noPartitions = s"no filtered partitions under $outDir/filtered"
    val filteredText =
      try spark.read.schema("value STRING, protein STRING").text(s"$outDir/filtered")
      catch { case e: AnalysisException => throw new IllegalArgumentException(noPartitions, e) }
    require(filteredText.inputFiles.exists(_.contains("/protein=")), noPartitions)
    val filtered = filteredText.filter(col("value").startsWith(">"))
      .groupBy("protein").agg(count(lit(1)).as("n"))
      .select(lit("2_filtered").as("stage"), col("protein"), col("n"))
    val clustered = Sinks.readCsv(spark, s"$outDir/clusters", ClustersSchema)
      .agg(sum(col("cluster_size")).as("n"))
      .select(lit("3_cluster_sizes").as("stage"),
        lit(null).cast("string").as("protein"), col("n"))
    val metaLinked = metaWithVariants.toSeq.sortBy(_._1).map { case (prot, df) =>
      df.agg(count(lit(1)).as("n"))
        .select(lit("4_meta_linked").as("stage"), lit(prot).as("protein"), col("n"))
    }
    val tsTotals = weeklyMatrix.toSeq.sortBy(_._1).map { case (prot, matrix) =>
      VariantTimeSeries.trimmedWeeklyTotal(matrix, "Worldwide", trimHead, trimTail)
        .select(lit("5_ts_total").as("stage"), lit(prot).as("protein"),
          coalesce(col("total_genomes"), lit(0L)).as("n"))
    }
    (Seq(raw, filtered, clustered) ++ metaLinked ++ tsTotals)
      .reduce(_ unionByName _)
      .orderBy("stage", "protein")
      .coalesce(1)
  }

  /** The `clusters` table [[prepare]] writes. */
  private val ClustersSchema = "cluster_id STRING, cluster_size LONG, first_id STRING"

  /** Stages 5–8 over one protein's MSA (the aligned FASTA an external
    * aligner produced from stage 3's clusters).
    *
    * Each product is computed once: the PyMOL bands and the heatmap are
    * built from the `per_position` and `weekly_matrix` tables just
    * written (as `Pymol_Strings.py` reads its CSV), not by re-planning
    * the subplans that produced them. Only the variant events are
    * cached, and they are released however the run ends. */
  def analyzeMsa(spark: SparkSession, msaPath: String, refIsolateId: String,
      meta: DataFrame, clusterMap: DataFrame, outDir: String): Unit = {
    val aligned = VariantCalling.readMsa(spark, msaPath)

    // stage 5: which cluster holds the reference isolate; its row and the
    // total sequence count come from one pass over the MSA
    val refClusterId = RefCluster.find(
      clusterMap.withColumnRenamed("accession", "input_id"), refIsolateId)
    val isRef = col("clusterId") === refClusterId
    val msaRow = aligned.agg(
      first(when(isRef, col("seq")), ignoreNulls = true),
      first(when(isRef, col("clusterSize")), ignoreNulls = true),
      sum(col("clusterSize"))).head()
    require(!msaRow.isNullAt(0), s"reference cluster $refClusterId is not in $msaPath")
    val (refSeq, refSize, total) = (msaRow.getString(0), msaRow.getInt(1), msaRow.getLong(2))

    // stage 6: embarrassingly-parallel variant calling, cached for fan-out
    val events = VariantCalling.callAll(aligned, refSeq)
      .filter(col("clusterId") =!= refClusterId).cache()
    try {
      // stage 7: report fan-out off the cached events. The first action
      // over the cache builds it in the stage that first reads it, so that
      // is info_by_cluster's partial aggregate (one task per MSA split),
      // not the exchange-free variants_raw write (one task in all)
      Sinks.writeBlockReport(
        Reports.infoByCluster(events).select(
          concat(col("cluster_id"), lit(", "), col("cluster_size"),
            lit(" sequences")).as("hdr"), col("codes")),
        "hdr", "codes", s"$outDir/info_by_cluster")
      Sinks.writeCsv(VariantCalling.toRawTsvShape(events),
        s"$outDir/variants_raw", sep = "\t")
      Sinks.writeCsv(Reports.mutationCsv(events, total), s"$outDir/all_by_code")
      Sinks.writeCsv(Reports.perPositionTable(events, refSeq.replace("-", ""), total),
        s"$outDir/per_position")
      Sinks.writeCsv(Reports.pymolStrings(Sinks.readCsv(spark,
        s"$outDir/per_position", Reports.PerPositionSchema)), s"$outDir/pymol")

      // stage 8: weekly matrices (every region + Worldwide, one pass)
      val per = VariantTimeSeries.variantsPerCluster(events, refClusterId, refSize)
      val joined = VariantTimeSeries.joinMetadata(meta, clusterMap, per)
      Sinks.writeCsv(VariantTimeSeries.weeklyMatrix(joined)
        .orderBy("region", "code", "week_start"), s"$outDir/weekly_matrix")
      // stage 8b: the reference's styled heatmap table (S10,
      // Time_Series.py:813–837) over the Worldwide share matrix. Week
      // columns are report-bounded, so the explicit pivot value list and
      // the xlsx sink's driver-side collect (under its row guard) are safe
      // by construction. The Worldwide rows are read into one partition,
      // so the week list and the pivot plan no exchange. That one task
      // scans the whole matrix file (every split of it); the file was
      // written by one task, so the scan is bounded by the write before it
      val global = Sinks.readCsv(spark, s"$outDir/weekly_matrix",
          VariantTimeSeries.WeeklyMatrixSchema)
        .filter(col("region") === "Worldwide")
        .select("week_start", "code", "share").coalesce(1)
      val weeks = global.select("week_start").distinct()
        .orderBy("week_start").collect().map(_.get(0).toString)
      if (weeks.nonEmpty)
        graft.sinks.Xlsx.writeHeatmap(
          global.groupBy("code").pivot("week_start", weeks.toSeq)
            .sum("share").na.fill(0.0).orderBy("code"),
          s"$outDir/heatmap_table.xlsx", "Global")
      Sinks.writeCsv(VariantTimeSeries.weeklyCombos(joined)
        .orderBy("region", "week_start", "combo"), s"$outDir/weekly_combos")
    } finally events.unpersist()
  }
}
