package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.chado.GafRecord

/** dictygaf2chado annotation load, Spark-first (SURVEY.md §3.4):
  * prune-all + reload of `feature_cvterm` with broadcast dictionary
  * joins replacing the reference's pre-warmed in-memory id stashes
  * (lib/Modware/Loader/Role/GAF/IdStash.pm:86-131, J9), the validity
  * filter (P10: row kept only when gene, term and evidence all resolve,
  * lib/Modware/Loader/GAF/Row.pm:71-83), and the per-(feature,term,pub)
  * rank ordinal via one window (A2, lib/Modware/Loader/GAF.pm:64-80).
  */
object GafLoad {

  /** Resolve + filter + rank: returns the feature_cvterm-shaped frame
    * with one deterministic `rank` per (gene, term, pub) group.
    *
    * `genes`: (gene_id, feature_uniquename); `terms`: (go_id, cv_name).
    * Both are dimension-sized → broadcast (the IdStash analog).
    */
  def load(gaf: Dataset[GafRecord], genes: DataFrame, terms: DataFrame): DataFrame = {
    val rows = gaf.toDF()
      .select(col("objectId"), col("goId"), col("evidenceCode"),
        explode_outer(col("dbRef")).as("pub"),
        col("qualifier"), col("date"), col("withFrom"), col("assignedBy"))
    val resolved = rows
      .join(broadcast(genes), rows("objectId") === genes("gene_id"), "left_outer")
      .join(broadcast(terms), rows("goId") === terms("go_id"), "left_outer")
    // P10 validity: drop rows that failed any dictionary lookup
    val valid = resolved.filter(
      col("feature_uniquename").isNotNull && col("cv_name").isNotNull &&
        col("evidenceCode") =!= "" && col("pub").isNotNull)
    // A2: rank = dense ordinal within (feature, term, pub), ordered by
    // the row's payload for determinism
    val w = Window.partitionBy(col("feature_uniquename"), col("goId"), col("pub"))
      .orderBy(col("evidenceCode"), col("date"), col("assignedBy"))
    valid.withColumn("rank", row_number().over(w) - 1)
      .select(col("feature_uniquename"), col("goId"), col("cv_name"),
        col("pub"), col("evidenceCode"), col("date"), col("rank"))
  }

  /** Decompose parsed GAF rows into the Chado-shaped store tables the
    * GAF exporter reads back (`graft.export.GafExport.rows`) — the Spark
    * analog of dictygaf2chado's feature_cvterm + rank-aligned
    * feature_cvtermprop writes (lib/Modware/Export/GAF.pm:86-163).
    *
    * Returned frames, by name:
    *  - feature_cvterm: (gene_id, go_id, pub, evidence_id, qualifier,
    *    with_from, date, assigned_by) — one row per (annotation, dbRef);
    *  - cvterm_go: (go_id, cv_name, is_obsolete) — aspect letter mapped
    *    back to its cv namespace;
    *  - gene: (gene_id, accession, symbol, object_type);
    *  - evidence_synonym: (evidence_id, synonym) — seeded with the code
    *    itself; ontology loads add the spelled-out EXACT synonyms that
    *    make F18's ≤3-char preference meaningful;
    *  - gene_synonym: (gene_id, name);
    *  - gene_description: (gene_id, description, date_created dd-MMM-yy).
    */
  def toStore(gaf: Dataset[GafRecord]): Map[String, DataFrame] = {
    val df = gaf.toDF()
    val cvOfAspect = map(graft.export.GafExport.aspects.flatMap {
      case (cvName, letter) => Seq(lit(letter), lit(cvName))
    }: _*)
    val featureCvterm = df.select(
      col("objectId").as("gene_id"),
      regexp_replace(col("goId"), "^GO:", "").as("go_id"),
      explode(col("dbRef")).as("pub"),
      concat(lit("ECO:"), col("evidenceCode")).as("evidence_id"),
      concat_ws("|", col("qualifier")).as("qualifier"),
      concat_ws("|", col("withFrom")).as("with_from"),
      col("date"), col("assignedBy").as("assigned_by"))
    val cvtermGo = df.select(
      regexp_replace(col("goId"), "^GO:", "").as("go_id"),
      element_at(cvOfAspect, col("aspect")).as("cv_name"),
      lit(0).as("is_obsolete")).dropDuplicates("go_id")
    val gene = df.select(
      col("objectId").as("gene_id"),
      col("objectId").as("accession"),
      col("symbol"),
      col("objectType").as("object_type")).dropDuplicates("gene_id")
    val evidenceSynonym = df.select(
      concat(lit("ECO:"), col("evidenceCode")).as("evidence_id"),
      col("evidenceCode").as("synonym")).dropDuplicates()
    val geneSynonym = df.select(col("objectId").as("gene_id"),
      explode(col("synonyms")).as("name")).dropDuplicates()
    val geneDescription = df
      .filter(col("objectName").isNotNull)
      .select(col("objectId").as("gene_id"),
        col("objectName").as("description"),
        date_format(to_date(col("date"), "yyyyMMdd"), "dd-MMM-yy").as("date_created"))
      .dropDuplicates()
    Map(
      "feature_cvterm" -> featureCvterm,
      "cvterm_go" -> cvtermGo,
      "gene" -> gene,
      "evidence_synonym" -> evidenceSynonym,
      "gene_synonym" -> geneSynonym,
      "gene_description" -> geneDescription)
  }

  /** gaf2chado's store side: decompose `gaf` into the [[toStore]]
    * tables and replace each under `storeDir` (the GAF load is
    * prune-all + reload). Returns each table's row count. The GAF is
    * parsed once and shared by every table; the counts are one
    * [[Gff3ToChado.collectCounts]] job over the same frames the writes
    * consume, and the six writes run concurrently. */
  def loadInto(gaf: Dataset[GafRecord], storeDir: String): Map[String, Long] = {
    val tables = toStore(gaf.localCheckpoint()).toSeq
    val counts = Gff3ToChado.collectCounts(tables)
    graft.queries.Pipeline.inParallel(tables) { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$storeDir/$name")
    }
    counts
  }

  /** U4 — duplicate-gene fan-out: copy annotation rows to each sibling id
    * in the dup map (AppendDuplicate.pm:43-66). */
  def fanoutDuplicates(annotations: DataFrame, dupMap: DataFrame): DataFrame = {
    // dupMap: (gene_id, sibling_id)
    val copies = annotations
      .join(broadcast(dupMap), annotations("feature_uniquename") === dupMap("gene_id"))
      .drop("feature_uniquename", "gene_id")
      .withColumnRenamed("sibling_id", "feature_uniquename")
    annotations.unionByName(copies.select(annotations.columns.toIndexedSeq.map(col): _*))
  }
}
