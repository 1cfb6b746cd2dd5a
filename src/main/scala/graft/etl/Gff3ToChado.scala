package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.chado.GffRecord
import graft.queries.Pipeline
import graft.sinks.ParquetUpsert

/** The reference's flagship load path, Spark-first (SURVEY.md §3.2):
  * GFF3 records fan out into per-table staging DataFrames (the
  * "make-stash" UDTF, lib/Modware/Loader/Role/WithChadoGFF3Helper
  * .pm:92-368) and a fixed merge DAG appends only-new rows into the live
  * store — anti-join novelty detection (J1), FK-stitch on natural keys
  * (J4), window dedup for shared dbxrefs (W1).
  *
  * The live store is a set of DataFrames keyed by natural keys; on a
  * cluster the same DAG stages into parquet/JDBC and the driver issues
  * the final transactional merge, mirroring the reference's staging-table
  * design (share/postgresql_gff3.lib). All joins are key-equi and
  * shuffle on `uniquename`/`(name,type)`; dimension-sized sides (types,
  * sources) broadcast automatically.
  */
object Gff3ToChado {

  /** Staging frames derived from one GFF3 parse — one per target table
    * (SURVEY.md §3.2 step 5). */
  case class Staging(
      feature: DataFrame, // uniquename, name, ftype, seqlen, is_analysis
      featureloc: DataFrame, // uniquename, srcfeature, fmin, fmax, strand, phase, rank
      analysisfeature: DataFrame, // uniquename, score, analysis source
      synonym: DataFrame, // alias names (distinct)
      featureSynonym: DataFrame, // uniquename, alias
      dbxref: DataFrame, // db, accession (distinct)
      featureDbxref: DataFrame, // uniquename, db, accession
      featureRelationship: DataFrame, // subject, object, reltype
      featureprop: DataFrame) // uniquename, prop, value, rank

  /** GFF3 reserved attributes routed to dedicated tables (P8); everything
    * else becomes a featureprop
    * (lib/Modware/Loader/Role/WithChadoGFF3Helper.pm:193-240). */
  private val reserved = Set("ID", "Name", "Parent", "Alias", "Dbxref",
    "Note", "Gap", "Target", "Derives_from")

  def stage(spark: SparkSession, records: Dataset[GffRecord]): Staging = {
    val rec = records.toDF()
      .withColumn("uniquename",
        coalesce(expr("element_at(attributes, 'ID')[0]"),
          // auto-name: the reference synthesizes ids for ID-less rows
          concat_ws(":", col("ftype"), col("seqId"), col("fmin"), col("fmax"))))
      .localCheckpoint() // staging reused by 9 branches; cut re-parse
    buildStaging(rec, refCompat = false)
  }

  /** REFERENCE-EXACT staging (opt-in) — reproduces the three
    * sequential-file semantics the default [[stage]] replaces with
    * order-free, scale-native equivalents, so the reference's own
    * golden-count acceptance fixture (t/test_data/gff3/test1.gff3 →
    * t/lib/ChadoGFF3.pm:120-139) reproduces bit-for-bit:
    *
    *  - ID-less rows get `auto<N>` uniquenames numbered by FILE LINE
    *    ORDER (the reference's per-row counter,
    *    WithChadoGFF3Helper.pm:360-363) instead of coordinate-derived
    *    ids — two ID-less rows with identical coordinates stay
    *    DISTINCT features, exactly like the reference;
    *  - a `Target=<id> <s> <e> <strand>` row ALSO stages the query
    *    feature `<id>` itself (make_feature_stash's target_hashref,
    *    WithChadoGFF3Helper.pm:95-110), with no rank-0 location;
    *  - column-2 GFF_source xrefs are NOT staged as feature_dbxref
    *    rows (the reference wires them into feature.dbxref_id at
    *    staging time, so its golden dbxref counts exclude them).
    *
    * Input is [[graft.sources.Gff3.featuresWithLine]]'s frame (the
    * GffRecord columns + `line_no`). The line-order window is one
    * global sort over the ID-LESS subset only — the price of the
    * reference's sequential-counter contract; the default [[stage]]
    * stays the fully distributed path and the two modes are otherwise
    * branch-for-branch identical ([[buildStaging]]).
    *
    * `autoIdFrom` continues the counter across loads the way the
    * reference's session-scoped `get_unique_feature_id` does — the
    * UPDATE contract (ChadoGFF3UpdateRunner.pm: test1 then test2 in
    * one session) depends on the second file's ID-less rows NOT
    * colliding with the first's autos; pass 1 + the prior loads'
    * ID-less row count. */
  def stageRefCompat(spark: SparkSession, recsWithLine: DataFrame,
                     autoIdFrom: Long = 1L): Staging = {
    val explicitId = expr("element_at(attributes, 'ID')[0]")
    val idless = recsWithLine.filter(explicitId.isNull)
      .withColumn("uniquename", concat(lit("auto"),
        lit(autoIdFrom - 1L) + row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("line_no")))))
    val rec = recsWithLine.filter(explicitId.isNotNull)
      .withColumn("uniquename", explicitId)
      .unionByName(idless)
      .drop("line_no")
      .localCheckpoint()
    buildStaging(rec, refCompat = true)
  }

  private def buildStaging(rec: DataFrame, refCompat: Boolean): Staging = {
    val feature0 = rec.select(
      col("uniquename"),
      coalesce(expr("element_at(attributes, 'Name')[0]"), col("uniquename")).as("name"),
      col("ftype"),
      (col("fmax") - col("fmin")).as("seqlen"),
      when(col("score").isNotNull, 1).otherwise(0).as("is_analysis"))
      .dropDuplicates("uniquename")

    // rank 0 = subject location; Target attribute adds a rank-1 query
    // location (W2: rank-as-data, share/postgresql_gff3.lib:33-42).
    val loc0 = rec.select(col("uniquename"), col("seqId").as("srcfeature"),
      col("fmin"), col("fmax"), col("strand"), col("phase"), lit(0).as("rank"))
    val tgt = rec
      .withColumn("target", expr("element_at(attributes, 'Target')[0]"))
      .filter(col("target").isNotNull)
      .withColumn("t", split(col("target"), " "))
    val loc1 = tgt
      .select(col("uniquename"), col("t").getItem(0).as("srcfeature"),
        (col("t").getItem(1).cast("int") - 1).as("fmin"),
        col("t").getItem(2).cast("int").as("fmax"),
        when(col("t").getItem(3) === "+", 1)
          .when(col("t").getItem(3) === "-", -1).as("strand"),
        lit(null).cast("int").as("phase"), lit(1).as("rank"))
    val featureloc = loc0.unionByName(loc1)

    // refCompat: the Target's QUERY feature is staged too (the
    // reference's target_hashref) — a feature row with no rank-0
    // location, keyed by the target id
    val feature =
      if (!refCompat) feature0
      else feature0.unionByName(tgt.select(
          col("t").getItem(0).as("uniquename"),
          col("t").getItem(0).as("name"),
          lit("sequence_feature").as("ftype"),
          (col("t").getItem(2).cast("int") -
            col("t").getItem(1).cast("int") + 1).as("seqlen"),
          lit(0).as("is_analysis")))
        .dropDuplicates("uniquename")

    val analysisfeature = rec.filter(col("score").isNotNull)
      .select(col("uniquename"), col("score").as("rawscore"),
        coalesce(col("source"), lit("unknown")).as("analysis"))

    val featureSynonym = rec
      .select(col("uniquename"), explode(expr("element_at(attributes, 'Alias')")).as("alias"))
      .dropDuplicates()
    val synonym = featureSynonym.select(col("alias")).dropDuplicates()

    // column 2 (source) is preserved as a db='GFF_source' dbxref exactly
    // like the reference loader (WithChadoGFF3Helper.pm:347-351) — the
    // dicty per-source exports filter on it. refCompat EXCLUDES these
    // rows: the reference wires the source xref into feature.dbxref_id
    // at staging time, so its golden dbxref counts never see them.
    val attrDbxref = rec
      .select(col("uniquename"), explode(expr("element_at(attributes, 'Dbxref')")).as("xref"))
      .withColumn("db", substring_index(col("xref"), ":", 1))
      .withColumn("accession", substring_index(col("xref"), ":", -1))
      .drop("xref")
    val featureDbxref =
      (if (refCompat) attrDbxref
       else attrDbxref.unionByName(rec.filter(col("source").isNotNull)
         .select(col("uniquename"), lit("GFF_source").as("db"),
           col("source").as("accession"))))
        .dropDuplicates()
    val dbxref = featureDbxref.select(col("db"), col("accession")).dropDuplicates()

    // Parent -> part_of, Derives_from -> derives_from
    // (WithChadoGFF3Helper.pm:242-272).
    val relParent = rec
      .select(col("uniquename").as("subject"),
        explode(expr("element_at(attributes, 'Parent')")).as("object"))
      .withColumn("reltype", lit("part_of"))
    val relDerives = rec
      .select(col("uniquename").as("subject"),
        explode(expr("element_at(attributes, 'Derives_from')")).as("object"))
      .withColumn("reltype", lit("derives_from"))
    val featureRelationship = relParent.unionByName(relDerives).dropDuplicates()

    // Note + all non-reserved attributes -> featureprop, rank by value
    // order within (feature, prop). refCompat applies the reference's
    // EXACT routing (make_featureprop_stash:193-240): Note and Gap
    // explicitly, plus only attributes NOT starting with an uppercase
    // letter — an unknown Capitalized attribute is dropped there,
    // while the default mode keeps it (lossless is the better default;
    // the golden counts need the reference's rule).
    val propGate =
      if (refCompat)
        col("prop").isin("Note", "Gap") || !col("prop").rlike("^[A-Z]")
      else !col("prop").isin(reserved.toSeq.filter(_ != "Note"): _*)
    val props = rec
      .select(col("uniquename"), explode(col("attributes")).as(Seq("prop", "vals")))
      .filter(propGate)
      .select(col("uniquename"), col("prop"), posexplode(col("vals")).as(Seq("rank", "value")))
      .select(col("uniquename"), col("prop"), col("value"), col("rank"))

    Staging(feature, featureloc, analysisfeature, synonym, featureSynonym,
      dbxref, featureDbxref, featureRelationship, props)
  }

  /** §2.11 FeatureVersion plugin (Plugin/Create/FeatureVersion.pm +
    * share/postgresql_feature_version.lib:1-20): decorate staging so
    * every feature carries a versioned public dbxref — a `db:uniquename`
    * xref plus a version-1 featureprop. Applied pre-merge, so the
    * novelty anti-joins make it idempotent: re-loads add nothing for
    * features already versioned. */
  def withFeatureVersion(st: Staging, db: String = "DDB"): Staging = st.copy(
    dbxref = st.dbxref.unionByName(
      st.feature.select(lit(db).as("db"), col("uniquename").as("accession")))
      .dropDuplicates(),
    featureDbxref = st.featureDbxref.unionByName(
      st.feature.select(col("uniquename"), lit(db).as("db"),
        col("uniquename").as("accession"))),
    featureprop = st.featureprop.unionByName(
      st.feature.select(col("uniquename"), lit("dbxref_version").as("prop"),
        lit("1").as("value"), lit(0).as("rank"))))

  /** Live-store frames on natural keys. Empty store = first load. */
  case class Store(
      feature: DataFrame, featureloc: DataFrame, analysisfeature: DataFrame,
      synonym: DataFrame, featureSynonym: DataFrame, dbxref: DataFrame,
      featureDbxref: DataFrame, featureRelationship: DataFrame,
      featureprop: DataFrame) {
    /** The nine frames, in [[Store.tables]] order. */
    def frames: Seq[DataFrame] = Seq(feature, featureloc, analysisfeature,
      synonym, featureSynonym, dbxref, featureDbxref, featureRelationship,
      featureprop)
  }

  object Store {
    /** The store's table directory names, in [[Store.frames]] order —
      * also the names of their insert counts (featureloc's are split
      * into `featureloc` and `featureloc_target`). */
    val tables: Seq[String] = Seq("feature", "featureloc", "analysisfeature",
      "synonym", "feature_synonym", "dbxref", "feature_dbxref",
      "feature_relationship", "featureprop")

    def of(frames: Seq[DataFrame]): Store = frames match {
      case Seq(f, l, af, s, fs, d, fd, fr, fp) => Store(f, l, af, s, fs, d, fd, fr, fp)
    }

    /** Empty live store with schemas mirrored from a staging set. */
    def emptyLike(st: Staging): Store = of(stagingFrames(st).map(_.limit(0)))
  }

  private def stagingFrames(st: Staging): Seq[DataFrame] = Seq(st.feature,
    st.featureloc, st.analysisfeature, st.synonym, st.featureSynonym,
    st.dbxref, st.featureDbxref, st.featureRelationship, st.featureprop)

  /** Natural keys of the novelty anti-joins, in [[Store.tables]] order:
    * J1 brand-new features by uniquename; J4 child rows follow their
    * feature by natural key (changed rows of existing features count as
    * already present); W1 one dbxref per distinct (db, accession) even
    * when several features share it (share/postgresql_gff3.lib:175-187). */
  private val naturalKeys: Seq[Seq[String]] = Seq(
    Seq("uniquename"), Seq("uniquename", "rank"), Seq("uniquename", "analysis"),
    Seq("alias"), Seq("uniquename", "alias"), Seq("db", "accession"),
    Seq("uniquename", "db", "accession"), Seq("subject", "object", "reltype"),
    Seq("uniquename", "prop", "rank"))

  /** The rows of staging that are new to the live store, per table —
    * the J1 `INSERT … SELECT … LEFT JOIN … IS NULL` of
    * share/postgresql_gff3.lib:80-86 without the insert — plus the
    * per-table inserted-row counts (the reference's golden numbers,
    * t/lib/ChadoGFF3.pm:120-139). Each delta is materialized exactly
    * once (localCheckpoint) in the live side's column order, so the
    * counts and the caller's append reuse it; the nine independent
    * anti-joins run concurrently. */
  def mergeDelta(staging: Staging, live: Store): (Store, Map[String, Long]) = {
    val delta = Store.of(Pipeline.inParallel(
        stagingFrames(staging).zip(live.frames).zip(naturalKeys)) {
      case ((stage, liveDf), keys) =>
        stage.join(liveDf.select(keys.map(col): _*), keys, "left_anti")
          .select(liveDf.columns.toIndexedSeq.map(col): _*)
          .localCheckpoint()
    })
    // all golden counts in ONE job over the materialized deltas
    val counts = collectCounts(Store.tables.zip(delta.frames).flatMap {
      case ("featureloc", loc) => Seq(
        "featureloc" -> loc.filter(col("rank") === 0),
        "featureloc_target" -> loc.filter(col("rank") === 1))
      case named => Seq(named)
    })
    (delta, counts)
  }

  /** Merge staging into the live store; returns the updated store (live
    * ∪ delta per table) plus the per-table inserted-row counts of
    * [[mergeDelta]]. Second identical run inserts 0 everywhere — the
    * idempotence gate (ChadoGFF3.pm:141-162). */
  def merge(staging: Staging, live: Store): (Store, Map[String, Long]) = {
    val (delta, counts) = mergeDelta(staging, live)
    (Store.of(live.frames.zip(delta.frames).map { case (l, d) => l.union(d) }),
      counts)
  }

  /** gff3tochado's store side: stage `records` (with the FeatureVersion
    * plugin on request), merge them against the parquet store at
    * `storeDir` — a missing table is an empty one, which is the first
    * load — and append each table's delta. Returns the insert counts;
    * `dryRun` computes them and writes nothing.
    *
    * Live tables are read with the staging schema (no inference job).
    * Each delta is appended, the nine writes run concurrently, and a
    * table whose delta is empty is not written at all: a load adds at
    * most one file set per changed table and an identical re-load
    * leaves every file as it was. A load cut short after some appends
    * heals on re-run — the anti-joins find exactly the rows the lost
    * appends held. featureloc is partitioned by reference so
    * single-chromosome exports prune to one directory (ScaleOpsSpec). */
  def loadInto(spark: SparkSession, records: Dataset[GffRecord],
               storeDir: String, featureVersion: Boolean,
               dryRun: Boolean): Map[String, Long] = {
    val staged = stage(spark, records)
    val staging = if (featureVersion) withFeatureVersion(staged) else staged
    val live = Store.of(Store.tables.zip(stagingFrames(staging)).map {
      case (t, st) => ParquetUpsert.readLive(spark, s"$storeDir/$t", st.schema)
        .getOrElse(st.limit(0))
    })
    val (delta, counts) = mergeDelta(staging, live)
    if (!dryRun)
      Pipeline.inParallel(Store.tables.zip(delta.frames)) {
        case ("featureloc", df) =>
          ParquetUpsert.appendDelta(df, s"$storeDir/featureloc",
            counts("featureloc") + counts("featureloc_target"), Seq("srcfeature"))
        case (t, df) => ParquetUpsert.appendDelta(df, s"$storeDir/$t", counts(t))
      }
    counts
  }

  /** One Spark action for a set of named row counts: the frames tagged
    * by name, unioned and counted in one `groupBy` — one exchange, not
    * one aggregate job per golden number (A3 at merge scale). A name
    * whose frame is empty counts 0. */
  private[etl] def collectCounts(frames: Seq[(String, DataFrame)]): Map[String, Long] = {
    val got = frames.map { case (name, df) => df.select(lit(name).as("t")) }
      .reduce(_ union _)
      .groupBy(col("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    frames.map { case (name, _) => name -> got.getOrElse(name, 0L) }.toMap
  }
}
