package graft.operators

import graft.core.VariantEvent
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Variant report block (SURVEY.md A1, A9, A10, O1–O3, C14, S9).
  *
  * The reference builds each report by re-filtering the whole in-memory
  * event list per code / per cluster / per residue
  * (`/root/reference/MSA_Reader.py:806–1162` — O(codes × events) and
  * O(ref_len × events)). Every report here is ONE aggregation over the
  * events Dataset; callers `.cache()` the events once and fan out.
  */
object Reports {

  /** Natural-sort key for `Uniq<n>`/`clust<n>` ids
    * (`/root/reference/MSA_Reader.py:781–803`). */
  def natKey(id: Column): Column =
    regexp_extract(id, "(\\d+)", 1).cast("int")

  /** By-cluster report rows: every cluster with its codes in MSA order,
    * clusters in natural id order (`/root/reference/MSA_Reader.py:806–853`). */
  def infoByCluster(events: Dataset[VariantEvent]): DataFrame =
    events.toDF()
      .groupBy(col("clusterId").as("cluster_id"))
      .agg(first(col("clusterSize")).as("cluster_size"),
        array_sort(collect_list(struct(col("msaStart"), col("code"))))
          .getField("code").as("codes"))
      .orderBy(natKey(col("cluster_id")))

  /** By-code report for one variant type: code → total sequences carrying
    * it (Σ cluster_size), clusters in natural order, codes by MSA start
    * (`/root/reference/MSA_Reader.py:855–966`). Pass `varType = None` for
    * the all-types variant (`:968–1036`). */
  def infoByCode(events: Dataset[VariantEvent], varType: Option[String]): DataFrame = {
    val base = varType.fold(events.toDF())(t => events.toDF().filter(col("varType") === t))
    base.groupBy(col("code"))
      .agg(first(col("varType")).as("var_type"),
        min(col("msaStart")).as("msa_start"),
        first(col("refStart")).as("ref_start"),
        sum(col("clusterSize")).as("n_sequences"),
        array_sort(collect_set(col("clusterId"))).as("clusters"))
      .orderBy("msa_start", "code")
  }

  /** Total sequences in the alignment = Σ cluster sizes over the cluster
    * HEADERS (`/root/reference/MSA_Reader.py:1079–1091`) — not over events:
    * zero-variant clusters emit no events but still count. `clusters` is
    * any frame with one row per cluster carrying `clusterSize`
    * (e.g. the aligned MSA rows, or Fasta.withClusterFields output). */
  def totalSequences(clusters: DataFrame, sizeCol: String = "clusterSize"): DataFrame =
    clusters.agg(sum(col(sizeCol)).as("total"))

  /** Mutation CSV (`<p>_all_by_code.csv`) with the reference's EXACT
    * contract (`/root/reference/MSA_Reader.py:968–1036`): columns
    * `Position,Type,Code,Frequency,Percentage`; Position = the code's
    * reference position with N-terminal extensions mapped to 1 (`:1016`);
    * any other positionless record raises (`:990`); Percentage is
    * `{:.4%}` of all sequences.
    *
    * Row ORDER is reference-exact too: the reference sorts its insertion-
    * ordered code dict by Position with Python's STABLE sort (`:995`), so
    * within a position, codes appear in first-appearance order over the
    * cluster-major event stream. That key is reproduced relationally as
    * `min(struct(cluster nat-key, msaStart))` per code — the earliest
    * cluster (file order) carrying the code, leftmost alignment column
    * within it — with Code as a final deterministic tiebreak
    * (ReportGoldenSpec diffs row order against the reference's own CSV). */
  def mutationCsv(events: Dataset[VariantEvent], total: Long): DataFrame =
    events.toDF()
      .groupBy(col("code").as("Code"))
      .agg(first(col("varType")).as("Type"),
        min(col("refStart")).as("__ref_start"),
        sum(col("clusterSize")).as("Frequency"),
        min(struct(natKey(col("clusterId")).as("c"), col("msaStart").as("m")))
          .as("__first_seen"))
      .withColumn("Position",
        when(col("__ref_start").isNotNull, col("__ref_start"))
          .when(col("Type") === "ext", 1)
          .otherwise(raise_error(
            concat(lit("Unanticipated Case Missing Reference Position: "), col("Code"))
              .cast("string")).cast("int")))
      .withColumn("Percentage",
        format_string("%.4f%%", col("Frequency").cast("double") / total * 100))
      .orderBy(col("Position"), col("__first_seen"), col("Code"))
      .select("Position", "Type", "Code", "Frequency", "Percentage")

  /** A10 — explode multi-residue deletions to one `del` row per deleted
    * residue, regenerating single-residue codes from the reference string
    * (`/root/reference/MSA_Reader.py:1038–1077`). Other types pass
    * through. `refGapless` is the ungapped reference sequence (broadcast
    * as a literal into the expression). */
  def breakUpDeletions(events: Dataset[VariantEvent], refGapless: String): DataFrame = {
    val df = events.toDF()
    val multiDel = col("varType") === "del" && col("refEnd").isNotNull
    val refLit = lit(refGapless)
    // generators can't sit inside `when`, so build the position array
    // conditionally and explode once (null refStart → one null position)
    df.withColumn("__positions",
        when(multiDel, sequence(col("refStart"), col("refEnd")))
          .otherwise(array(col("refStart"))))
      .withColumn("ref_pos", explode_outer(col("__positions")))
      .withColumn("code",
        when(multiDel,
          concat(refLit.substr(col("ref_pos"), lit(1)), col("ref_pos"), lit("del")))
          .otherwise(col("code")))
      .drop("refStart", "refEnd", "__positions")
      .withColumnRenamed("ref_pos", "refStart")
  }

  /** A9 — per-position variant count table with the reference's EXACT CSV
    * contract (`/root/reference/MSA_Reader.py:1107–1162`): columns
    * `Residue_Number,Total_Variants,Percent_Variants,Substitutions,
    * Insertions,Deletions,Extensions,Indels`, every residue 1..refLen,
    * zero-filled, percent `{:.4%}`. One shuffle (groupBy position) + a
    * join to the dense `sequence(1, refLen)` frame — vs the reference's
    * O(refLen × events) rescan loop. */
  def perPositionTable(events: Dataset[VariantEvent], refGapless: String,
      total: Long): DataFrame = {
    val spark = events.sparkSession
    val exploded = breakUpDeletions(events, refGapless)
      .filter(col("refStart").isNotNull)
    val typeCols = Seq("sub" -> "Substitutions", "ins" -> "Insertions",
      "del" -> "Deletions", "ext" -> "Extensions", "delins" -> "Indels")
    val aggs = typeCols.map { case (t, name) =>
      sum(when(col("varType") === t, col("clusterSize")).otherwise(0L)).as(name)
    } :+ sum(col("clusterSize")).as("Total_Variants")
    val counted = exploded.groupBy(col("refStart").as("Residue_Number"))
      .agg(aggs.head, aggs.tail: _*)
    val dense = spark.range(1, refGapless.length + 1)
      .select(col("id").cast("int").as("Residue_Number"))
    dense.join(counted, Seq("Residue_Number"), "left")
      .na.fill(0L, typeCols.map(_._2) :+ "Total_Variants")
      .withColumn("Percent_Variants",
        format_string("%.4f%%", col("Total_Variants").cast("double") / total * 100))
      .select(Seq("Residue_Number", "Total_Variants", "Percent_Variants").map(col) ++
        typeCols.map(tc => col(tc._2)): _*)
      .orderBy("Residue_Number")
  }

  /** The [[perPositionTable]] columns and types, for reading its CSV back. */
  val PerPositionSchema: String = "Residue_Number INT, Total_Variants LONG, " +
    "Percent_Variants STRING, Substitutions LONG, Insertions LONG, " +
    "Deletions LONG, Extensions LONG, Indels LONG"

  /** F9/S11 — PyMOL selection strings: residues bucketed into the
    * reference's frequency bands, `+`-joined per band
    * (`/root/reference/Pymol_Strings.py:14–84`). Input = [[perPositionTable]]
    * output. The reference's own gap (count of exactly 1 matches no band)
    * is preserved; its totality check becomes `unbanded_positions`. */
  def pymolStrings(perPosition: DataFrame): DataFrame =
    perPosition
      .withColumn("band", Filters.frequencyBand(col("Total_Variants")))
      .groupBy("band")
      .agg(count(lit(1)).as("n_residues"),
        array_join(array_sort(collect_list(col("Residue_Number"))), "+").as("selection"))
      .orderBy("band")
}
