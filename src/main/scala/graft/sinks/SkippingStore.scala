package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map data skipping: the min/max file-pruning layout every lake
  * table format (Delta, Iceberg, Hudi) builds on, in pure Spark — the
  * storage-side complement to partition pruning (q123) for columns too
  * fine-grained to be directory keys.
  *
  * Write side: range-partition + sort the table by the skipping column,
  * so each parquet file covers a narrow, mostly-disjoint value range,
  * then record one (file, min, max) row per file in a `_zonemap`
  * parquet colocated under the store (underscore-prefixed paths are
  * invisible to Spark's directory reads, the `_delta_log` convention).
  * Read side: prune the file LIST against the predicate driver-side —
  * the zone map is file-count-sized, never data-sized — and hand Spark
  * only the surviving files, with the residual row filter (and its
  * parquet pushdown) still applied on top.
  *
  * The map keys files by their NAME, not their URI: part-file names
  * carry a per-job UUID so they are unique, the store survives being
  * relocated, and there is no URI-normalization seam between
  * `input_file_name()` and the filesystem listing. All listings go
  * through the Hadoop FileSystem of the store's own path, so local,
  * `file:`, and cluster (hdfs/s3a) stores behave identically. Every
  * read VERIFIES the map covers exactly the store's data files and
  * fails loudly on drift — a stale or partial index must never turn
  * into silently missing rows.
  *
  * At 100 TB the effect is the q123 one: a selective range query opens
  * a handful of files instead of listing-then-row-filtering the whole
  * table, and the layout cost is paid once at write time. The sort also
  * tightens parquet row-group statistics, so even the surviving files
  * row-group-skip internally.
  *
  * Reference analog: the post-load staging indexes of
  * Temp/WithPostgresql.pm:30-51 — pay at write time for selective
  * reads — translated to Spark's immutable-file storage model.
  */
object SkippingStore {

  /** Write `df` as `nFiles` range-partitioned, internally sorted parquet
    * files under `dir`, plus the `_zonemap` index. One extra metadata
    * pass over the written store builds the map (at scale this folds
    * into the writer's task-commit statistics; a separate pass keeps
    * the demonstration engine-agnostic). */
  def write(df: DataFrame, sortCol: String, dir: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need at least one file")
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(dir)
    zoneRows(df.sparkSession.read.parquet(dir), sortCol)
      .write.mode("overwrite").parquet(s"$dir/_zonemap")
  }

  /** Append `df` to an existing store and extend the zone map by
    * scanning ONLY the newly written files: the store's immutable-file
    * model means an append never touches existing zone rows, so the
    * index update costs one pass over the appended data, not the
    * table. On a directory with no `_zonemap` yet this IS `write`
    * (refusing loudly if un-indexed data files already exist there).
    * Appended batches are each internally range-sorted; their value
    * ranges may overlap older files' — pruning stays correct (zone
    * intersection is per-file) and only loses selectivity, which a
    * periodic compaction rewrite (`write`) restores. */
  def append(df: DataFrame, sortCol: String, dir: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need at least one file")
    val spark = df.sparkSession
    if (!pathExists(spark, s"$dir/_zonemap")) {
      val orphans = listDataFileNames(spark, dir)
      require(orphans.isEmpty,
        s"$dir has ${orphans.size} data files but no _zonemap — not a zone " +
          "store; rewrite it with write() instead of appending blind")
      write(df, sortCol, dir, nFiles)
    } else {
      // validate BEFORE writing: a map already out of sync means the
      // store was modified behind the index — appending would bury it
      val known = mappedFileNames(spark, dir)
      checkCoverage(listDataFileNames(spark, dir).toSet, known, dir)
      df.repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("append").parquet(dir)
      val newFiles = listDataFileNames(spark, dir).filterNot(known)
      if (newFiles.nonEmpty)
        zoneRows(spark.read.parquet(newFiles.map(n => s"$dir/$n"): _*), sortCol)
          .write.mode("append").parquet(s"$dir/_zonemap")
    }
  }

  /** One (fileName, zmin, zmax) row per data file of `data`. */
  private def zoneRows(data: DataFrame, sortCol: String): DataFrame =
    data
      .groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
      .agg(min(col(sortCol)).as("zmin"), max(col(sortCol)).as("zmax"))
      .coalesce(1) // file-count-sized by construction

  /** The zone map as a DataFrame (one row per data file). */
  def zoneMap(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/_zonemap")

  // ------------------------------------------------------------------
  // Multi-column zone statistics — the lake-format generalization: the
  // layout is sorted by ONE column, but (min, max) is recorded for
  // SEVERAL columns per file (Delta's dataSkippingNumIndexedCols
  // shape, which indexes strings too — URLs, content hashes, clerks:
  // exactly the columns crawl stores filter on). Pruning on the sort
  // column is tight; pruning on a secondary column is only as good as
  // its correlation with the layout — but it is always CORRECT (zone
  // intersection per file), so a query on any indexed column can skip
  // without a second copy of the data.

  /** The widened numeric stat expression for a column: numerics cast
    * to double; date/timestamp columns go through an EXPLICIT timestamp
    * cast + `unix_micros` (a direct double cast on datetimes is an
    * invalid cast under ANSI mode). String columns return None — they
    * carry their own lexicographic stat slots. Anything else is
    * rejected up front. */
  private def widenedNumeric(c: Column, dt: org.apache.spark.sql.types.DataType)
      : Option[Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => None
      case DateType | TimestampType | TimestampNTZType =>
        Some(unix_micros(c.cast("timestamp")).cast("double"))
      case _: NumericType => Some(c.cast("double"))
      case other => throw new IllegalArgumentException(
        s"zone stats support numeric, date/timestamp, and string columns, not $other")
    }
  }

  /** One (file, col, zmin, zmax, zmin_str, zmax_str, nrows, nnulls,
    * tz) row per data file × stats column — numeric/datetime stats in
    * the double slots, string stats in the lexicographic slots, the
    * other pair null; `nrows` is the file's exact row count (identical
    * across a file's rows) and `nnulls` the column's null count (the
    * Delta nullCount stat: metadata-only `count(col)` and IS [NOT]
    * NULL file pruning), which makes the sidecar a row-count manifest
    * too —
    * the [[graft.plans.MetadataCountRule]] answers a bare `count(*)`
    * from it without opening a data file, the Delta metadata-only
    * count. `tz` records the WRITER session's time zone: the datetime
    * widening (`cast(c AS TIMESTAMP)`) shifts DATE and TIMESTAMP_NTZ
    * values by the session zone, so a reader in a different zone must
    * not compare its own translated literals against these stats —
    * [[graft.plans.ZonePruneRule]] refuses to prune those shapes on a
    * zone mismatch instead of shifting boundary files into the void.
    * Shared by every multi-sidecar writer (writeMulti, appendMulti,
    * the Z-order pair) so they can never diverge on widening rules or
    * counts. */
  private def multiZoneRows(data: DataFrame, statsCols: Seq[String],
                            fileKey: Column =
                              regexp_extract(input_file_name(), "[^/]+$", 0))
      : DataFrame = {
    val writerTz = data.sparkSession.sessionState.conf.sessionLocalTimeZone
    statsCols.map { c =>
      val by = data.groupBy(fileKey.as("file"))
      val nn = sum(when(col(c).isNull, 1L).otherwise(0L)).as("nnulls")
      widenedNumeric(col(c), data.schema(c).dataType) match {
        case Some(w) =>
          by.agg(min(w).as("zmin"), max(w).as("zmax"),
              count(lit(1)).as("nrows"), nn)
            .select(col("file"), lit(c).as("col"), col("zmin"), col("zmax"),
              lit(null).cast("string").as("zmin_str"),
              lit(null).cast("string").as("zmax_str"), col("nrows"),
              col("nnulls"), lit(writerTz).as("tz"))
        case None =>
          by.agg(min(col(c)).as("zmin_str"), max(col(c)).as("zmax_str"),
              count(lit(1)).as("nrows"), nn)
            .select(col("file"), lit(c).as("col"),
              lit(null).cast("double").as("zmin"),
              lit(null).cast("double").as("zmax"),
              col("zmin_str"), col("zmax_str"), col("nrows"), col("nnulls"),
              lit(writerTz).as("tz"))
      }
    }.reduce(_ unionByName _)
  }

  /** Write `df` range-partitioned/sorted by `sortCol` with per-file
    * (min, max) recorded for every column in `statsCols` — numeric and
    * date/timestamp columns in widened-double slots (datetimes as epoch
    * micros), string columns in lexicographic string slots — in a
    * `_zonemap_multi` sidecar: one row per file × column. */
  def writeMulti(df: DataFrame, sortCol: String, statsCols: Seq[String],
                 dir: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need at least one file")
    require(statsCols.nonEmpty, "need at least one stats column")
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(dir)
    multiZoneRows(df.sparkSession.read.parquet(dir), statsCols)
      .coalesce(1) // files × columns — sidecar-sized by construction
      .write.mode("overwrite").parquet(s"$dir/_zonemap_multi")
  }

  /** Append to a [[writeMulti]] store, extending the sidecar with
    * stats for ONLY the newly written files; the indexed column set is
    * read from the existing sidecar so every file carries the same
    * stats. Refuses loudly when no multi sidecar exists. */
  def appendMulti(df: DataFrame, sortCol: String, dir: String,
                  nFiles: Int): Unit = {
    require(nFiles >= 1, "need at least one file")
    val spark = df.sparkSession
    SidecarFold.restoreAside(spark, s"$dir/_zonemap_multi")
    require(pathExists(spark, s"$dir/_zonemap_multi"),
      s"$dir has no _zonemap_multi — build it with writeMulti first")
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    val statsCols = zm.select(col("col")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val known = zm.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    checkCoverage(listDataFileNames(spark, dir).toSet, known, dir)
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("append").parquet(dir)
    val newFiles = listDataFileNames(spark, dir).filterNot(known)
    if (newFiles.nonEmpty) {
      val rows = multiZoneRows(
        spark.read.parquet(newFiles.map(n => s"$dir/$n"): _*), statsCols)
      // a pre-nrows/-nnulls/-tz sidecar keeps its schema (mixed parquet
      // footers would make the unmerged sidecar read schema-dependent)
      Seq("nrows", "nnulls", "tz")
        .foldLeft(rows)((r, c) =>
          if (zm.columns.contains(c)) r else r.drop(c))
        .coalesce(1)
        .write.mode("append").parquet(s"$dir/_zonemap_multi")
    }
  }

  /** Compact a multi-indexed store WITHOUT losing its indexing: the
    * generic [[StoreMaintenance.compact]] rewrite drops sidecar
    * subdirectories (correctly — stale maps must not survive a
    * rewrite), which leaves a SkippingStore unindexed. This variant
    * rewrites the data re-sorted by `sortCol` into ≈`targetBytes`
    * files in a temp sibling, rebuilds the `_zonemap_multi` (same
    * stats columns) and, when present, the `_bloommap` (same keycol
    * and geometry) against the NEW layout, and only then swaps the
    * whole directory in — the [[StoreMaintenance.overwriteViaSwap]]
    * crash discipline: a complete indexed copy exists on disk at every
    * instant, and the only crash window leaves the old store intact
    * under a deterministic `.old-*` name.
    *
    * Streaming context: [[graft.streaming.StreamingMerge.indexedIngest]]
    * accretes batch-sized files; periodic compaction here restores
    * scan efficiency while keeping every reader and both optimizer
    * rules engaged. A Z-order store loses its curve layout (re-sorted
    * linear) — re-layout those with [[writeZOrder]] instead. Returns
    * (filesBefore, filesAfter). */
  def compactIndexed(spark: SparkSession, dir: String, sortCol: String,
                     targetBytes: Long = 64L << 20): (Int, Int) = {
    SidecarFold.restoreAside(spark, s"$dir/_zonemap_multi")
    require(pathExists(spark, s"$dir/_zonemap_multi"),
      s"$dir has no _zonemap_multi — compact unindexed stores with StoreMaintenance.compact")
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    val statsCols = zm.select(col("col")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val bloomGeom: Option[(String, Int, Int)] = {
      SidecarFold.restoreAside(spark, s"$dir/_bloommap")
      if (!pathExists(spark, s"$dir/_bloommap")) None
      else {
        val bm = bloomMap(spark, dir)
        // a legacy (pre-keycol) or mixed-geometry bloom cannot be
        // rebuilt faithfully — refuse rather than silently swap in a
        // DE-indexed store whose readBloomEq/bloomAppend callers then
        // fail on a store that was bloom-indexed before compaction
        require(bm.columns.contains("keycol"),
          s"compactIndexed($dir): the _bloommap predates the keycol " +
            "marker — rebuild it with bloomIndex before compacting")
        val g = bm.select(col("keycol"), col("nbits"), col("k"))
          .distinct().collect()
        require(g.length == 1,
          s"compactIndexed($dir): mixed bloom geometries — rebuild with " +
            "bloomIndex before compacting")
        Some((g.head.getString(0), g.head.getInt(1), g.head.getInt(2)))
      }
    }
    def parquetFiles(d: String): Int = listDataFileNames(spark, d).length
    val before = parquetFiles(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = hfs.listStatus(p).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val stamp = java.lang.System.nanoTime()
    val tmp = dir + ".rewrite-" + stamp
    val aside = dir + ".old-" + stamp
    // localCheckpoint: the rewrite reads the live dir it will replace —
    // materialize before any rename touches the source
    val data = spark.read.parquet(dir).localCheckpoint()
    writeMulti(data, sortCol, statsCols, tmp, nFiles)
    bloomGeom.foreach { case (kc, nbits, k) => bloomIndex(spark, tmp, kc, nbits, k) }
    HadoopSwap.swapInto(spark, tmp, dir, aside)
    (before, parquetFiles(dir))
  }

  /** Exact store row count from the `_zonemap_multi` sidecar alone —
    * no data file opened (the Delta metadata-only count; the
    * [[graft.plans.MetadataCountRule]] entry). None when the store
    * carries no multi sidecar, the sidecar predates per-file `nrows`,
    * or a file's rows disagree across its stat columns (corrupt
    * sidecar). The loud coverage check still applies: a data file the
    * sidecar doesn't map throws rather than under-counting. */
  def metadataCount(spark: SparkSession, dir: String): Option[Long] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    if (!zm.columns.contains("nrows")) return None
    val perFile = zm.select(col("file"), col("nrows")).distinct()
      .collect()
    val files = perFile.map(_.getString(0))
    if (files.length != files.distinct.length) return None // conflicting counts
    checkCoverageAuto(spark, dir, files.toSet)
    Some(perFile.map(_.getLong(1)).sum)
  }

  /** Exact NON-NULL count of `statsCol` (SQL `count(col)` semantics)
    * from the `_zonemap_multi` sidecar alone — sum over files of
    * (nrows - nnulls), the Delta nullCount stat. None when the store
    * has no multi sidecar, the sidecar predates `nnulls`, the column
    * isn't indexed, or a file carries conflicting rows; an unmapped
    * data file throws loudly. */
  def metadataNonNullCount(spark: SparkSession, dir: String,
                           statsCol: String): Option[Long] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    if (!zm.columns.contains("nnulls") || !zm.columns.contains("nrows"))
      return None
    val rows = zm.filter(col("col") === statsCol)
      .select(col("file"), col("nrows"), col("nnulls"))
      .collect() // file-count-sized
    if (rows.isEmpty) return None // column not indexed
    val files = rows.map(_.getString(0))
    if (files.length != files.distinct.length) return None // conflicting stats
    checkCoverageAuto(spark, dir, files.toSet)
    Some(rows.map(r => r.getLong(1) - r.getLong(2)).sum)
  }

  /** Optimizer-rule entry ([[graft.plans.ZonePruneRule]]): the file
    * names of `dir` that might hold a row where `statsCol` IS NULL
    * (`wantNull = true`: files with nnulls > 0) or IS NOT NULL
    * (`wantNull = false`: files with nnulls < nrows) — Delta's
    * null-count skipping. All-null files die under any comparison
    * predicate already (null zone stats fail every range test); this
    * is the complementary evidence that kills them for IS NOT NULL
    * and keeps ONLY them for IS NULL. None when the sidecar predates
    * `nnulls` or the column isn't indexed; same loud coverage check
    * as every reader. */
  def nullFileNames(spark: SparkSession, dir: String, statsCol: String,
                    wantNull: Boolean): Option[Seq[String]] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    if (!zm.columns.contains("nnulls") || !zm.columns.contains("nrows"))
      return None
    val rows = zm.filter(col("col") === statsCol)
      .select(col("file"), col("nrows"), col("nnulls"))
      .collect()
    if (rows.isEmpty) return None
    val files = rows.map(_.getString(0))
    if (files.length != files.distinct.length) return None
    checkCoverage(listDataFileNames(spark, dir).toSet, files.toSet, dir)
    Some(rows.filter(r =>
        if (wantNull) r.getLong(2) > 0L else r.getLong(2) < r.getLong(1))
      .map(_.getString(0)).toSeq.sorted)
  }

  // ------------------------------------------------------------------
  // Partitioned stores (write.partitionBy layouts, e.g. the IVF
  // postings store): partition pruning handles the partition columns
  // for free, but a rider-column predicate still reads EVERY file of
  // every surviving partition. The same `_zonemap_multi` sidecar
  // covers this when files are keyed by their PARTITION-RELATIVE path
  // ("cell=3/part-....parquet") — a bare file name is NOT unique
  // across partition directories (dynamic partitioning reuses the
  // task's part- prefix in each partition it writes). The transparent
  // rule then intersects partition pruning with per-file rider zones
  // (graft.plans.PrunedFileIndex), so a filtered probe opens only the
  // rider-matching files INSIDE the probed partitions.

  /** Relative-path trailing segments of a partitioned data file: the
    * `k=v` directory chain plus the file name ("cell=3/part-….parquet";
    * just the name at the store root). */
  private def relPathOf(p: org.apache.hadoop.fs.Path): String = {
    var segs = List(p.getName)
    var cur = p.getParent
    while (cur != null && cur.getName.contains("=")) {
      segs = cur.getName :: segs
      cur = cur.getParent
    }
    segs.mkString("/")
  }

  /** Partition-relative paths of every data file under `dir`,
    * recursing through `k=v` partition directories and skipping
    * underscore-prefixed sidecars — the partitioned-store analog of
    * [[listDataFileNames]]. */
  def listDataFileRelPaths(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) {
          if (n.contains("=")) walk(st.getPath) else Seq.empty
        } else if (n.startsWith("part-") && n.endsWith(".parquet"))
          Seq(relPathOf(st.getPath))
        else Seq.empty
      }
    walk(root)
  }

  /** Whether zone rows come from parquet footers (default) or from the
    * column-pruned data scan — a test hook: specs switch it off to prove
    * both paths produce bit-identical sidecar rows. */
  @volatile private[graft] var footerStats: Boolean = true

  /** File count past which [[footerZoneRows]] declines and the caller
    * runs the distributed data scan instead — driver-side footer reads
    * are file-LIST-sized work (the listing that precedes them already
    * is), but a million-file batch belongs on the cluster. Same
    * crossover idiom as TextIndex.distributedCapsFileThreshold. */
  private[graft] var footerZoneMaxFiles: Int = 65536

  /** Wall-clock budget for the whole footer-read batch: past it the
    * derivation gives up and the caller runs the exact data scan —
    * a stuck metadata RPC costs one fallback pass, never a hung
    * driver. Package-private so the spec can drive the timeout. */
  @volatile private[graft] var footerReadBudgetNanos: Long =
    120L * 1000 * 1000 * 1000

  /** Unsigned lexicographic byte comparison — parquet's SortOrder for
    * UTF-8 binary stats AND Spark's UTF8String ordering, so footer
    * min/max merge exactly like a Spark `min`/`max` over the column. */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Zone rows for `relFiles` derived from parquet FOOTER statistics —
    * the metadata-only replacement for the leaf data scan (the same
    * move lake formats make: file stats ride the manifest, not a
    * post-write scan). Returns None (caller falls back to the exact
    * scan) unless EVERY (file, col) pair yields provably exact stats:
    *
    *  - column type must be BINARY/UTF8 (string slots) or plain signed
    *    INT32/INT64 (widened-double slots) — the types whose footer
    *    min/max are exact and whose ordering matches Spark's
    *    (unsigned-byte lexicographic for UTF-8 strings; long→double
    *    rounding is monotone non-decreasing, so min/max commute with
    *    the cast). FLOAT/DOUBLE (NaN pollution), DATE/TIMESTAMP
    *    (session-zone widening), DECIMAL and unsigned ints fall back.
    *  - every column chunk must carry set null counts, and min/max
    *    whenever it holds non-null values (parquet drops oversized
    *    binary stats — that reads as "absent", never as a wrong
    *    bound). Row-group stats are untruncated at parquet-mr
    *    defaults; a belt-and-braces length guard falls back anyway.
    *
    * Produces the exact [[multiZoneRows]] schema; files with zero rows
    * produce no row (matching the scan, which never sees them). */
  private def footerZoneRows(spark: SparkSession, dir: String,
                             relFiles: Seq[String], cols: Seq[String])
      : Option[DataFrame] = {
    if (!footerStats || relFiles.size > footerZoneMaxFiles)
      return None
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val writerTz = spark.sessionState.conf.sessionLocalTimeZone
    // (file, col, zmin, zmax, zmin_str, zmax_str, nrows, nnulls, tz)
    type ZRow = (String, String, Option[Double], Option[Double],
      Option[String], Option[String], Long, Long, String)
    def fileRows(rel: String): Option[Seq[ZRow]] = {
      val reader = ParquetFileReader.open(HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$dir/$rel"), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nrows = blocks.map(_.getRowCount).sum
        if (nrows == 0L) return Some(Nil) // the scan never sees it
        val out = cols.map { c =>
          var nnulls = 0L
          var minB: Array[Byte] = null; var maxB: Array[Byte] = null
          var minL = Long.MaxValue; var maxL = Long.MinValue
          var sawValue = false
          var isString = false; var decided = false
          blocks.foreach { blk =>
            val chunk = blk.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(return None) // column absent: fall back
            val pt = chunk.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val strCol = pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val intCol = (pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
              pt.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
              (ann == null || (ann match {
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                  i.isSigned
                case _ => false
              }))
            if (!strCol && !intCol) return None // unsupported type
            if (!decided) { isString = strCol; decided = true }
            else if (isString != strCol) return None // schema drift
            val stats = chunk.getStatistics
            if (stats == null || !stats.isNumNullsSet) return None
            nnulls += stats.getNumNulls
            if (stats.hasNonNullValue) {
              sawValue = true
              if (isString) {
                val mn = stats.genericGetMin.asInstanceOf[Binary].getBytes
                val mx = stats.genericGetMax.asInstanceOf[Binary].getBytes
                // untruncated at parquet defaults; guard anyway — a
                // truncation-configured writer must fall back, never
                // publish a non-exact bound
                if (mn.length >= 4096 || mx.length >= 4096) return None
                if (minB == null || unsignedLess(mn, minB)) minB = mn
                if (maxB == null || unsignedLess(maxB, mx)) maxB = mx
              } else {
                val mn = stats.genericGetMin match {
                  case i: java.lang.Integer => i.longValue
                  case l: java.lang.Long => l.longValue
                  case _ => return None
                }
                val mx = stats.genericGetMax match {
                  case i: java.lang.Integer => i.longValue
                  case l: java.lang.Long => l.longValue
                  case _ => return None
                }
                if (mn < minL) minL = mn
                if (mx > maxL) maxL = mx
              }
            } else if (stats.getNumNulls < blk.getRowCount) {
              // non-null values exist but min/max were dropped
              // (oversized binary): cannot bound — fall back
              return None
            }
          }
          if (!sawValue) // all-null column: null stats, exact nnulls
            (rel, c, None: Option[Double], None: Option[Double],
              None: Option[String], None: Option[String], nrows, nnulls,
              writerTz)
          else if (isString)
            (rel, c, None: Option[Double], None: Option[Double],
              Some(new String(minB, java.nio.charset.StandardCharsets.UTF_8)),
              Some(new String(maxB, java.nio.charset.StandardCharsets.UTF_8)),
              nrows, nnulls, writerTz)
          else
            (rel, c, Some(minL.toDouble), Some(maxL.toDouble),
              None: Option[String], None: Option[String], nrows, nnulls,
              writerTz)
        }
        Some(out)
      } finally reader.close()
    }
    // bounded parallel footer reads — metadata RPCs, file-list-sized.
    // The await is BOUNDED (one hung filesystem read must degrade to
    // the exact data scan, never hang the driver forever — VERDICT r16
    // #5), and a footer read that THROWS (corrupt file, dying mount)
    // falls back the same way instead of failing the ingest.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, relFiles.size)))
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = relFiles.map(f =>
        scala.concurrent.Future(fileRows(f))(ec))
      val deadline = java.lang.System.nanoTime() +
        footerReadBudgetNanos
      val all = fs.map { f =>
        val remain = deadline - java.lang.System.nanoTime()
        if (remain <= 0L) return None
        try scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.fromNanos(remain))
        catch { case scala.util.control.NonFatal(_) => return None }
      }
      if (all.exists(_.isEmpty)) None
      else {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("file", StringType), StructField("col", StringType),
          StructField("zmin", DoubleType), StructField("zmax", DoubleType),
          StructField("zmin_str", StringType),
          StructField("zmax_str", StringType),
          StructField("nrows", LongType), StructField("nnulls", LongType),
          StructField("tz", StringType)))
        val rows = all.flatMap(_.get).map { t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3.orNull, t._4.orNull,
            t._5.orNull, t._6.orNull, t._7, t._8, t._9)
        }
        Some(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          schema))
      }
    } finally pool.shutdownNow() // interrupts hung reads on the
    // timeout path; a no-op after normal completion
  }

  /** Build — or incrementally EXTEND — the `_zonemap_multi` sidecar of
    * a PARTITIONED store, keyed by partition-relative file path. Only
    * files the sidecar doesn't map yet are touched (the appendMulti
    * cost model: per-batch, not per-store), so the postings-store
    * lifecycle is build → index → append → index → … with each index
    * pass touching just the new files. Stats cols must be DATA
    * columns (partition columns prune via the directory layout
    * already, and leaf-file reads don't carry them). A compaction
    * rewrite drops the sidecar with the old directory — re-run this
    * afterwards.
    *
    * Stats come from the new files' parquet FOOTERS when every stats
    * column qualifies ([[footerZoneRows]] — a metadata read, no data
    * scan, no Spark job over the batch); any non-qualifying column or
    * absent footer statistic falls back to the original column-pruned
    * leaf scan, bit-identical rows either way. */
  def indexPartitioned(spark: SparkSession, dir: String,
                       statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val side = s"$dir/_zonemap_multi"
    // fold-crash heal: a zonemap parked under a fold aside would read
    // as "unindexed store" and trigger a needless full rebuild
    SidecarFold.restoreAside(spark, side)
    // cache entries are keyed the way the zone-prune rule reads them
    val qdir = Constraints.qualified(spark, dir)
    val before = SidecarFold.listing(spark, side)
    // the indexed column set and the mapped file set from the
    // cross-query cache: a sidecar state this process has already seen
    // (its own last extension included) costs no job, and a miss is the
    // one sidecar-sized collect that also warms the cache for serves
    val prior = before.flatMap(l => zoneRowsCached(spark, qdir, fingerprintOf(l)))
    val (known, cols) = prior.fold((Set.empty[String], statsCols.sorted)) {
      case (sc, mapped) =>
        val existing = sc.byCol.keys.toSeq.sorted
        require(existing == statsCols.sorted,
          s"$side already indexes ${existing.mkString(",")} — " +
            "extend with the same column set or rebuild")
        (mapped, existing)
    }
    val newFiles = listDataFileRelPaths(spark, dir).filterNot(known)
    if (newFiles.isEmpty) return
    val mode = if (known.isEmpty) "overwrite" else "append"
    val footerRows = footerZoneRows(spark, dir, newFiles, cols)
    footerRows match {
      case Some(rows) => rows.coalesce(1).write.mode(mode).parquet(side)
      case None =>
        // leaf-file read: data columns only, which is exactly what
        // rider stats need; the trailing-segments regexp recovers the
        // relative key
        val data = spark.read.parquet(newFiles.map(f => s"$dir/$f"): _*)
        multiZoneRows(data, cols,
            regexp_extract(input_file_name(),
              "((?:[^/]+=[^/]*/)*[^/]+)$", 1))
          .coalesce(1).write.mode(mode).parquet(side)
    }
    // one appended zonemap file per ingest — fold on the same
    // threshold as the tombstone/doclen sidecars so a long-appended
    // store's EVERY zone-pruned serve keeps a bounded sidecar read
    // (rows are unique per (file, col); the fold just re-packs files)
    SidecarFold.foldIfDecayed(spark, side, 64)(identity)
    // write-through: the footer rows are driver-held (a local relation,
    // so collecting them runs no job); when the sidecar grew by exactly
    // this call's file and reads back with their columns, the cache
    // holds the post-write state and the next serve reads nothing
    for {
      rows <- footerRows
      after <- SidecarFold.listing(spark, side)
      if SidecarFold.grewBy(before.getOrElse(Nil), after, 1) &&
        ParquetUpsert.knownSchema(spark, Seq(side))
          .exists(_.fieldNames.toSet == rows.columns.toSet)
    } {
      val (sc, mapped) = multiSidecarOf(rows.collect().toSeq, rows.columns.toSet)
      val merged = prior.fold((sc, mapped)) { case (old, oldMapped) =>
        (MultiSidecar(
          (old.byCol.keySet ++ sc.byCol.keySet).map(c => c ->
            (old.byCol.getOrElse(c, Nil) ++ sc.byCol.getOrElse(c, Nil))).toMap,
          old.tzs ++ sc.tzs, sc.hasNullStats), oldMapped ++ mapped)
      }
      sidecarCache.put((qdir, "zone", fingerprintOf(after)), merged)
    }
    ()
  }

  /** The partition-relative file key expression shared by every
    * partitioned-sidecar writer. */
  private val relFileKey: Column =
    regexp_extract(input_file_name(), "((?:[^/]+=[^/]*/)*[^/]+)$", 1)

  /** SELECTIVE compaction of a single-level-PARTITIONED store — the
    * delta-sized maintenance arm the full rewrites
    * ([[graft.operators.Similarity.compactIvfStore]],
    * [[graft.operators.TextIndex.compact]], [[compactIndexed]]) lack:
    * those heal append decay by rewriting the ENTIRE store, an
    * O(corpus) pass that at 100 TB rewrites everything to fix a few
    * hot partitions. Here only partitions whose data-file count
    * exceeds `maxFilesPerPartition` are rewritten (re-clustered by
    * the sidecar's stats columns + `extraSortCols` into
    * ~`filesPerPartition` files each); every other partition's files
    * are BYTE-UNTOUCHED — same paths, same mtimes. Rewritten bytes
    * are proportional to the decayed partitions, never the store.
    *
    * One job reads all decayed partitions together and writes the
    * replacement layout into an underscore-prefixed (reader-invisible)
    * temp root; each partition then swaps in rename-aside, and the
    * zone/bloom sidecars are RECONCILED at the end — rows for
    * replaced files dropped, fresh rows computed over only the new
    * files ([[reconcilePartitionedSidecars]]).
    *
    * Crash discipline: every individual step leaves a RECOVERABLE
    * store. A crash mid-swap leaves some partitions compacted and some
    * not — both layouts serve identically — except the one narrow
    * window INSIDE a partition's swap (old renamed aside, replacement
    * not yet renamed in), where that partition is temporarily missing
    * from the store; the re-run's first act restores any such
    * partition from the scaffolding roots before clearing them, so the
    * heal never destroys the only copy. A crash between the data swaps
    * and the sidecar reconcile leaves a stale sidecar, which reads
    * DETECT (the loud coverage check / the transparent rule's
    * degrade-to-scan), never silently mis-serve; re-running this
    * function heals it (the rewritten partitions are no longer
    * decayed, so the re-run skips straight to the reconcile).
    * Object stores without atomic rename route rewrites through
    * [[VersionedStore]] manifest commits instead, same caveat as the
    * full rewrites.
    *
    * Returns (rewritten partition dir names, filesBefore, filesAfter). */
  def compactPartitionsSelective(spark: SparkSession, dir: String,
                                 partCol: String,
                                 maxFilesPerPartition: Int,
                                 filesPerPartition: Int = 1,
                                 extraSortCols: Seq[String] = Nil)
      : (Seq[String], Int, Int) = {
    require(maxFilesPerPartition >= 1 && filesPerPartition >= 1,
      "thresholds must be at least one file per partition")
    val hfs = HadoopSwap.fs(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    def partDirs(): Seq[org.apache.hadoop.fs.Path] =
      hfs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
        .map(_.getPath)
    def filesIn(p: org.apache.hadoop.fs.Path): Seq[String] =
      hfs.listStatus(p).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && n.startsWith("part-") && n.endsWith(".parquet")
      }.map(_.getPath.toString)
    def totalFiles(): Int = partDirs().map(filesIn(_).size).sum
    val tmpRoot = s"$dir/_selcompact_tmp"
    val asideRoot = s"$dir/_selcompact_old"
    // CRASH HEAL before clearing scaffolding: a prior run that died
    // between swapInto's two renames (live→aside done, tmp→live not)
    // left that partition's ONLY copies under the scaffolding roots —
    // deleting them first would turn the crash window into silent data
    // loss (the reconcile below would then drop the partition's
    // sidecar rows too). Restore any scaffolding partition whose live
    // dir is missing: the aside copy is the complete pre-compaction
    // data (it was renamed atomically out of the store), so it wins;
    // tmp is only consulted when aside has no copy (not reachable from
    // swapInto's ordering, kept as a belt-and-braces restore — a live
    // dir can only go missing after the tmp write completed).
    def restoreMissing(fromRoot: String): Unit = {
      val rp = new org.apache.hadoop.fs.Path(fromRoot)
      if (hfs.exists(rp))
        hfs.listStatus(rp).toSeq.filter(_.isDirectory).foreach { st =>
          val target = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
          if (!hfs.exists(target))
            require(hfs.rename(st.getPath, target),
              s"crash-heal restore ${st.getPath} -> $target failed — " +
                "refusing to clear scaffolding holding the only copy")
        }
    }
    restoreMissing(asideRoot)
    restoreMissing(tmpRoot)
    HadoopSwap.deleteRecursive(spark, tmpRoot)
    HadoopSwap.deleteRecursive(spark, asideRoot)
    // decay is measured AFTER the heal — a restored partition is still
    // decayed and re-compacts in this very run
    val before = totalFiles()
    val decayed = partDirs().filter(filesIn(_).size > maxFilesPerPartition)
    if (decayed.nonEmpty) {
      // sort keys come from the store's own index, like the full
      // rewrites: a clustered store re-clusters, a plain one just merges
      val statsCols: Seq[String] =
        if (!pathExists(spark, s"$dir/_zonemap_multi")) Nil
        else spark.read.parquet(s"$dir/_zonemap_multi")
          .select(col("col")).distinct().collect()
          .map(_.getString(0)).toSeq.sorted
      val sortCols = ((partCol +: statsCols) ++ extraSortCols).distinct
      // ONE job over the decayed partitions only: basePath recovers the
      // partition column, partitionBy lays the replacement dirs out
      // under the reader-invisible temp root; mergeSchema keeps
      // batch-vs-streaming rider columns (`_applied_batch`) intact
      spark.read.option("basePath", dir).option("mergeSchema", "true")
        .parquet(decayed.map(_.toString): _*)
        .repartitionByRange(decayed.size * filesPerPartition,
          sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.partitionBy(partCol).mode("overwrite").parquet(tmpRoot)
      hfs.mkdirs(new org.apache.hadoop.fs.Path(asideRoot))
      decayed.foreach { pd =>
        val name = pd.getName
        HadoopSwap.swapInto(spark, s"$tmpRoot/$name", pd.toString,
          s"$asideRoot/$name")
      }
      HadoopSwap.deleteRecursive(spark, tmpRoot)
      HadoopSwap.deleteRecursive(spark, asideRoot)
    }
    reconcilePartitionedSidecars(spark, dir)
    (decayed.map(_.getName), before, totalFiles())
  }

  /** Bring a partitioned store's zone and bloom sidecars back in sync
    * with its CURRENT data files: drop rows for files that no longer
    * exist, compute fresh rows over only the unmapped ones (the
    * incremental [[indexPartitioned]] cost model), and swap each
    * rewritten sidecar in rename-aside. Idempotent — a clean store is
    * a no-op; this is both the tail of
    * [[compactPartitionsSelective]] and its crash heal. */
  private[graft] def reconcilePartitionedSidecars(spark: SparkSession,
                                                  dir: String): Unit = {
    val current = listDataFileRelPaths(spark, dir).toSet
    def swapSidecar(side: String, frame: DataFrame): Unit = {
      val stamp = java.lang.System.nanoTime()
      val tmp = side + ".rewrite-" + stamp
      frame.coalesce(1).write.mode("overwrite").parquet(tmp)
      HadoopSwap.swapInto(spark, tmp, side, side + ".old-" + stamp)
    }
    val zside = s"$dir/_zonemap_multi"
    if (pathExists(spark, zside)) {
      val zm = spark.read.parquet(zside)
      val mapped = zm.select(col("file")).distinct().collect()
        .map(_.getString(0)).toSet
      val phantom = mapped -- current
      val unmapped = (current -- mapped).toSeq.sorted
      if (phantom.nonEmpty || unmapped.nonEmpty) {
        val statsCols = zm.select(col("col")).distinct().collect()
          .map(_.getString(0)).toSeq.sorted
        val kept =
          if (phantom.isEmpty) zm
          else zm.filter(!col("file").isin(phantom.toSeq: _*))
        val fresh =
          if (unmapped.isEmpty) None
          else Some(Seq("nrows", "nnulls", "tz").foldLeft(
            multiZoneRows(
              spark.read.parquet(unmapped.map(f => s"$dir/$f"): _*),
              statsCols, relFileKey))((r, c) =>
            if (zm.columns.contains(c)) r else r.drop(c)))
        swapSidecar(zside, fresh.fold(kept)(kept.unionByName(_)))
      }
    }
    val bside = s"$dir/_bloommap"
    if (pathExists(spark, bside)) {
      val bm = bloomMap(spark, dir)
      require(bm.columns.contains("keycol"),
        s"$bside predates the keycol marker — rebuild with " +
          "bloomIndexPartitioned before selective compaction")
      val geom = bm.select(col("keycol"), col("nbits"), col("k"))
        .distinct().collect()
      require(geom.length == 1,
        s"$bside mixes filter geometries — rebuild before selective compaction")
      val (kc, nbits, k) =
        (geom.head.getString(0), geom.head.getInt(1), geom.head.getInt(2))
      val mapped = bm.select(col("file")).distinct().collect()
        .map(_.getString(0)).toSet
      val phantom = mapped -- current
      val unmapped = (current -- mapped).toSeq.sorted
      if (phantom.nonEmpty || unmapped.nonEmpty) {
        val kept =
          if (phantom.isEmpty) bm
          else bm.filter(!col("file").isin(phantom.toSeq: _*))
        val fresh =
          if (unmapped.isEmpty) None
          else Some(bloomRows(
            spark.read.parquet(unmapped.map(f => s"$dir/$f"): _*),
            kc, nbits, k, relFileKey))
        swapSidecar(bside, fresh.fold(kept)(kept.unionByName(_)))
      }
    }
  }

  /** One data file's recorded stats for one column — the in-memory row
    * of [[loadMultiSidecar]]. Numeric/datetime stats in the double
    * slots, string stats in the lexicographic slots; `None` where the
    * slot family doesn't apply, the column was all-null in the file,
    * or the sidecar predates the stat. */
  final case class ZoneStat(file: String,
                            zmin: Option[Double], zmax: Option[Double],
                            zminStr: Option[String], zmaxStr: Option[String],
                            nrows: Option[Long], nnulls: Option[Long])

  /** The whole `_zonemap_multi` sidecar, loaded driver-side in ONE
    * read: per-column stats, the distinct writer time zones
    * ([[multiZoneRows]] stamps; empty for pre-tz sidecars), and
    * whether null stats exist. File-count-sized by construction — the
    * same driver footprint every lake format's manifest scan pays. */
  final case class MultiSidecar(byCol: Map[String, Seq[ZoneStat]],
                                tzs: Set[String], hasNullStats: Boolean)

  /** Load `dir`'s `_zonemap_multi` sidecar into driver memory, with
    * the standard loud coverage check against the store's actual data
    * files. One sidecar read serves EVERY predicate of an optimizer
    * pass ([[graft.plans.ZonePruneRule]]) — the per-predicate
    * re-read this replaces cost a driver-side job per conjunct. None
    * when the store carries no multi sidecar. `relative = true` for
    * partitioned stores ([[indexPartitioned]] layouts): file keys and
    * the coverage listing are partition-relative paths. */
  def loadMultiSidecar(spark: SparkSession, dir: String,
                       relative: Boolean = false): Option[MultiSidecar] =
    loadMultiSidecarRows(spark, dir).map { case (sc, mapped) =>
      checkCoverage(dataFiles(spark, dir, relative).toSet, mapped, dir)
      sc
    }

  /** The sidecar rows in driver memory WITHOUT the coverage check —
    * the cacheable half of [[loadMultiSidecar]]: the rows depend only
    * on the sidecar's bytes, while coverage depends on the store's
    * current data files and must re-check per query. */
  private def loadMultiSidecarRows(spark: SparkSession, dir: String)
      : Option[(MultiSidecar, Set[String])] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    Some(multiSidecarOf(zm.collect().toSeq, // files × columns — sidecar-sized
      zm.columns.toSet))
  }

  /** Sidecar rows with columns `cols` as the driver-side sidecar and
    * its mapped file set. */
  private def multiSidecarOf(rows: Seq[org.apache.spark.sql.Row],
                             cols: Set[String])
      : (MultiSidecar, Set[String]) = {
    def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (!cols(c) || r.isNullAt(r.fieldIndex(c))) None
      else Some(r.getDouble(r.fieldIndex(c)))
    def optS(r: org.apache.spark.sql.Row, c: String): Option[String] =
      if (!cols(c) || r.isNullAt(r.fieldIndex(c))) None
      else Some(r.getString(r.fieldIndex(c)))
    def optL(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (!cols(c) || r.isNullAt(r.fieldIndex(c))) None
      else Some(r.getLong(r.fieldIndex(c)))
    def fileOf(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("file"))
    val byCol = rows.groupBy(r => r.getString(r.fieldIndex("col"))).map {
      case (c, rs) =>
        c -> rs.map(r => ZoneStat(fileOf(r),
          optD(r, "zmin"), optD(r, "zmax"),
          optS(r, "zmin_str"), optS(r, "zmax_str"),
          optL(r, "nrows"), optL(r, "nnulls")))
    }
    (MultiSidecar(byCol,
        rows.flatMap(r => optS(r, "tz")).toSet,
        cols("nrows") && cols("nnulls")),
      rows.map(fileOf).toSet)
  }

  /** The store's current data-file keys in the layout the sidecars
    * use: partition-relative paths for partitioned stores, bare names
    * for flat ones. */
  private[graft] def dataFiles(spark: SparkSession, dir: String,
                               relative: Boolean): Seq[String] =
    if (relative) listDataFileRelPaths(spark, dir)
    else listDataFileNames(spark, dir)

  // ------------------------------------------------------------------
  // Cross-query sidecar cache: repeated queries over the same store
  // must not re-read and re-collect the sidecar parquet every
  // optimizer pass. Entries are keyed by the sidecar directory's
  // FINGERPRINT (per-file name/length/mtime), so any append,
  // reconcile, or compaction that touches the sidecar produces a new
  // key and the stale entry simply ages out of the small LRU. The
  // loud coverage check still runs per query against the store's
  // CURRENT data files — a data append that bypassed indexing is
  // detected even on a cache hit.

  private val SidecarCacheMax = 64
  private val sidecarCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String, Long), AnyRef](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String, Long), AnyRef]): Boolean =
          size() > SidecarCacheMax
      })

  /** Order-independent fingerprint of a sidecar directory's file
    * statuses; None when the sidecar doesn't exist. */
  private def sidecarFingerprint(spark: SparkSession,
                                 side: String): Option[Long] =
    SidecarFold.listing(spark, side).map(fingerprintOf)

  private def fingerprintOf(l: Seq[SidecarFold.Entry]): Long =
    l.foldLeft(0L) { case (acc, (name, len, mtime)) =>
      acc ^ (scala.util.hashing.MurmurHash3.stringHash(name).toLong *
        1000003L + len * 31L + mtime)
    }

  /** `dir`'s zone rows under sidecar fingerprint `fp`, read and cached
    * on a miss; None when the sidecar is gone. */
  private def zoneRowsCached(spark: SparkSession, dir: String, fp: Long)
      : Option[(MultiSidecar, Set[String])] = {
    val key = (dir, "zone", fp)
    Option(sidecarCache.get(key))
      .map(_.asInstanceOf[(MultiSidecar, Set[String])])
      .orElse(loadMultiSidecarRows(spark, dir).map { loaded =>
        sidecarCache.put(key, loaded)
        loaded
      })
  }

  /** Cache `from`'s zone rows under `to` too — for a scaffold about to
    * be renamed into place as `to`: a rename keeps every file's name,
    * length and mtime, so the fingerprint matches after the swap, and a
    * swap that never happens leaves an entry no listing matches. */
  private[graft] def memoZoneRowsAs(spark: SparkSession, from: String,
                                    to: String): Unit =
    for {
      fp <- sidecarFingerprint(spark, s"$from/_zonemap_multi")
      rows <- Option(sidecarCache.get(
        (Constraints.qualified(spark, from), "zone", fp)))
    } sidecarCache.put((Constraints.qualified(spark, to), "zone", fp), rows)

  /** [[loadMultiSidecar]] through the cross-query cache: the
    * sidecar-rows collect runs once per sidecar VERSION, the coverage
    * check against `actual` runs on every call. `actual` is the
    * caller's listing in the sidecar's key layout ([[dataFiles]]) —
    * the optimizer rule already holds it for its threshold decision,
    * so the store is listed once per query, not once per sidecar
    * consumer. */
  private[graft] def loadMultiSidecarCached(spark: SparkSession, dir: String,
                                            actual: Seq[String])
      : Option[MultiSidecar] = {
    val fp = sidecarFingerprint(spark, s"$dir/_zonemap_multi")
      .getOrElse(return None)
    val (sc, mapped) = zoneRowsCached(spark, dir, fp).getOrElse(return None)
    checkCoverage(actual.toSet, mapped, dir)
    Some(sc)
  }

  /** Per-column metadata of a sidecar, reduced ON THE CLUSTER —
    * columns-sized, never files-sized. Everything the distributed
    * zone evaluation ([[graft.plans.ZonePruneRule]] above its
    * driver-file threshold) needs to decide which predicates are
    * evaluable: slot family, duplicate-file corruption, null-stat
    * completeness, the writer time zones, and an order-independent
    * (count, xor-of-xxhash64) coverage fingerprint of the mapped
    * files that replaces the driver-side mapped set. */
  final case class ColMeta(dupFiles: Boolean, anyStr: Boolean,
                           nullStatsComplete: Boolean)
  final case class SidecarMeta(cols: Map[String, ColMeta],
                               tzs: Set[String], hasNullStats: Boolean,
                               nFiles: Long, fileXor: Long)

  private[graft] def loadSidecarMetaCached(spark: SparkSession,
                                           dir: String): Option[SidecarMeta] = {
    val fp = sidecarFingerprint(spark, s"$dir/_zonemap_multi")
      .getOrElse(return None)
    val key = (dir, "meta", fp)
    val hit = sidecarCache.get(key)
    if (hit != null) return Some(hit.asInstanceOf[SidecarMeta])
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    val hasNull = zm.columns.contains("nrows") && zm.columns.contains("nnulls")
    val nullMissing =
      if (hasNull)
        sum(when(col("nrows").isNull || col("nnulls").isNull, 1L)
          .otherwise(0L))
      else sum(lit(1L)) // no null stats at all: never "complete"
    val per = zm.groupBy(col("col")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("file")).as("nf"),
      max(col("zmin_str").isNotNull).as("anyStr"),
      nullMissing.as("nullMissing")).collect()
    val cols = per.map(r => r.getString(0) -> ColMeta(
      dupFiles = r.getLong(1) != r.getLong(2),
      anyStr = r.getBoolean(3),
      nullStatsComplete = hasNull && r.getLong(4) == 0L)).toMap
    val fm = zm.select(col("file")).distinct()
      .agg(count(lit(1)).as("nf"),
        expr("coalesce(bit_xor(xxhash64(file)), 0L)").as("fx")).head()
    val tzs =
      if (!zm.columns.contains("tz")) Set.empty[String]
      else zm.select(col("tz")).filter(col("tz").isNotNull).distinct()
        .collect().map(_.getString(0)).toSet
    val meta = SidecarMeta(cols, tzs, hasNull, fm.getLong(0), fm.getLong(1))
    sidecarCache.put(key, meta)
    Some(meta)
  }

  /** The xor-of-xxhash64 fingerprint of a driver-held file listing —
    * must combine exactly like the cluster side's
    * `bit_xor(xxhash64(file))` so [[SidecarMeta.fileXor]] coverage
    * compares are sound. */
  private[graft] def fileListXor(names: Seq[String]): Long =
    names.foldLeft(0L)((acc, n) => acc ^
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(n),
        org.apache.spark.sql.types.StringType, 42L))

  /** The global (min, max) of one stats column reduced from the
    * `_zonemap_multi` sidecar alone — both slot families, so the caller
    * (who knows the column's Catalyst type) picks the right one. A
    * `None` field means the column is entirely null in that slot. */
  final case class SidecarMinMax(zmin: Option[Double], zmax: Option[Double],
                                 zminStr: Option[String], zmaxStr: Option[String])

  /** Exact global min/max of `statsCol` from the `_zonemap_multi`
    * sidecar — no data file opened (the Delta metadata-only min/max;
    * the [[graft.plans.MetadataMinMaxRule]] entry). Per-file (min, max)
    * already ignore nulls, so `min(file mins)` / `max(file maxes)` IS
    * the SQL aggregate. Doubles reduce under `java.lang.Double.compare`
    * and strings under UTF-8 byte order — both exactly Spark's own
    * min/max orderings (NaN greatest, -0.0 < 0.0; binary collation).
    * None when the store has no multi sidecar, the column isn't
    * indexed, or a file carries conflicting rows; an unmapped data
    * file throws loudly (never a silently narrower range). */
  def metadataMinMax(spark: SparkSession, dir: String,
                     statsCol: String): Option[SidecarMinMax] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val rows = spark.read.parquet(s"$dir/_zonemap_multi")
      .filter(col("col") === statsCol)
      .select(col("file"), col("zmin"), col("zmax"),
        col("zmin_str"), col("zmax_str"))
      .collect() // file-count-sized by construction
    if (rows.isEmpty) return None // column not indexed (or empty store)
    val files = rows.map(_.getString(0))
    if (files.length != files.distinct.length) return None // conflicting stats
    checkCoverageAuto(spark, dir, files.toSet)
    def d(i: Int) = rows.iterator.filterNot(_.isNullAt(i)).map(_.getDouble(i))
    def s(i: Int) = rows.iterator.filterNot(_.isNullAt(i)).map(_.getString(i))
    val byBytes = Ordering.comparatorToOrdering(
      java.util.Comparator.comparing[String, org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.unsafe.types.UTF8String.fromString,
        java.util.Comparator.naturalOrder[org.apache.spark.unsafe.types.UTF8String]()))
    Some(SidecarMinMax(
      d(1).reduceOption((a, b) => if (java.lang.Double.compare(a, b) <= 0) a else b),
      d(2).reduceOption((a, b) => if (java.lang.Double.compare(a, b) >= 0) a else b),
      s(3).reduceOption((a, b) => byBytes.min(a, b)),
      s(4).reduceOption((a, b) => byBytes.max(a, b))))
  }

  // ------------------------------------------------------------------
  // Z-order layout — the multi-dimensional generalization of the sorted
  // layout: interleave the bits of TWO skipping columns into one Morton
  // key and range-partition/sort by that, so file value-ranges stay
  // narrow on BOTH columns at once (Delta/Iceberg's OPTIMIZE ZORDER BY).
  // A single-column sort gives tight zones on the sort column and
  // layout-luck zones on everything else; the Z-curve trades a little
  // tightness on the first column for real tightness on both. The
  // sidecar is the ordinary `_zonemap_multi`, so [[readPrunedOn]] /
  // [[readPrunedOnString]] work unchanged — Z-order is purely a better
  // WRITER for the same index.

  /** Spread the low 16 bits of `c` to even bit positions 0,2,..,30
    * (binary-magic-numbers interleave step) — pure bitwise expressions,
    * whole-stage-codegen'd. */
  private def spread16(c: Column): Column = {
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val d = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (d.bitwiseOR(shiftleft(d, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key from two numeric columns, each linearly scaled
    * to a 16-bit bucket over its [min, max] range. The ranges ride in
    * as plain doubles (driver-held, 4 values — bounded by construction);
    * nulls and degenerate ranges clamp to bucket 0. */
  private def mortonKey(x: Column, xMin: Double, xMax: Double,
                        y: Column, yMin: Double, yMax: Double): Column = {
    def bucket(c: Column, lo: Double, hi: Double): Column = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(greatest(
        floor((coalesce(c.cast("double"), lit(lo)) - lo) / span * 65535.0), lit(0.0)),
        lit(65535.0)).cast("long")
    }
    spread16(bucket(x, xMin, xMax))
      .bitwiseOR(shiftleft(spread16(bucket(y, yMin, yMax)), 1))
  }

  /** Write `df` Z-ordered on `(zColA, zColB)` with per-file (min, max)
    * recorded for every column in `statsCols` (default: the two Z
    * columns) in the standard `_zonemap_multi` sidecar. One tiny
    * pre-pass computes the two global ranges (4 doubles to the driver);
    * the key itself is pure bitwise codegen, and the shuffle is the
    * same single range-partition an ordinary sorted write pays. Read
    * back with [[readPrunedOn]] on EITHER column. */
  def writeZOrder(df: DataFrame, zColA: String, zColB: String, dir: String,
                  nFiles: Int, statsCols: Seq[String] = Nil): Unit = {
    require(nFiles >= 1, "need at least one file")
    val stats = if (statsCols.nonEmpty) statsCols else Seq(zColA, zColB)
    val Array(r) = df.agg(
      min(col(zColA).cast("double")), max(col(zColA).cast("double")),
      min(col(zColB).cast("double")), max(col(zColB).cast("double")))
      .collect()
    val key = mortonKey(col(zColA), r.getDouble(0), r.getDouble(1),
      col(zColB), r.getDouble(2), r.getDouble(3))
    df.withColumn("_zkey", key)
      .repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(dir)
    multiZoneRows(df.sparkSession.read.parquet(dir), stats)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_zonemap_multi")
    // persist the curve geometry so appends interleave consistently
    val sp = df.sparkSession
    import sp.implicits._
    Seq((zColA, zColB, r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3)))
      .toDF("col_a", "col_b", "a_min", "a_max", "b_min", "b_max")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_zorder_meta")
  }

  /** Append to a [[writeZOrder]] store: the delta is Morton-sorted with
    * the ORIGINAL curve geometry (read from `_zorder_meta` — values
    * outside the recorded ranges clamp to the edge buckets, which only
    * loosens those files' zones, never correctness, since per-file
    * stats are always recomputed from the actual data), and the
    * `_zonemap_multi` sidecar is extended by scanning ONLY the new
    * files — the [[appendMulti]] cost model on the two-column layout.
    * Periodic [[writeZOrder]] re-layout restores curve tightness after
    * the value domain drifts. */
  def appendZOrder(df: DataFrame, dir: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need at least one file")
    val spark = df.sparkSession
    require(pathExists(spark, s"$dir/_zorder_meta"),
      s"$dir has no _zorder_meta — build it with writeZOrder first")
    val m = spark.read.parquet(s"$dir/_zorder_meta").collect().head
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    val statsCols = zm.select(col("col")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val known = zm.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    checkCoverage(listDataFileNames(spark, dir).toSet, known, dir)
    val key = mortonKey(col(m.getString(0)), m.getDouble(2), m.getDouble(3),
      col(m.getString(1)), m.getDouble(4), m.getDouble(5))
    df.withColumn("_zkey", key)
      .repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("append").parquet(dir)
    val newFiles = listDataFileNames(spark, dir).filterNot(known)
    if (newFiles.nonEmpty) {
      val rows = multiZoneRows(
        spark.read.parquet(newFiles.map(n => s"$dir/$n"): _*), statsCols)
      Seq("nrows", "nnulls", "tz")
        .foldLeft(rows)((r, c) =>
          if (zm.columns.contains(c)) r else r.drop(c))
        .coalesce(1)
        .write.mode("append").parquet(s"$dir/_zonemap_multi")
    }
  }

  /** Shared prune-then-residual tail for the multi-zone readers:
    * coverage check, per-column zone intersection, survivor-file read,
    * residual filter. `zonePred` runs over the sidecar rows of
    * `statsCol`; `residual` over the surviving data. */
  private def readMultiPruned(spark: SparkSession, dir: String,
                              statsCol: String, zonePred: Column,
                              residual: DataFrame => DataFrame)
      : (Long, Long, DataFrame) = {
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi").cache()
    try {
      val mapped = zm.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
      checkCoverage(listDataFileNames(spark, dir).toSet, mapped, dir)
      val forCol = zm.filter(col("col") === statsCol)
      require(forCol.limit(1).count() > 0,
        s"$dir/_zonemap_multi has no stats for column '$statsCol' — " +
          "rewrite with writeMulti including it")
      val files = forCol.filter(zonePred)
        .select(col("file")).collect().map(r => s"$dir/${r.getString(0)}")
      if (files.isEmpty)
        (0L, mapped.size.toLong, residual(spark.read.parquet(dir)).limit(0))
      else
        (files.length.toLong, mapped.size.toLong,
          residual(spark.read.parquet(files.toIndexedSeq: _*)))
    } finally zm.unpersist()
  }

  /** Optimizer-rule entry ([[graft.plans.ZonePruneRule]]): the file
    * names of `dir` whose recorded zone for `statsCol` intersects
    * [lo, hi] (a `None` bound is unbounded). Returns None — meaning
    * "cannot prune, scan everything" — when the store carries no multi
    * sidecar, the column is unindexed, or the bound types don't match
    * the column's stat slots. Same loud coverage check as every other
    * reader: a stale index must never silently drop rows. */
  def pruneFileNames(spark: SparkSession, dir: String, statsCol: String,
                     lo: Option[Any], hi: Option[Any]): Option[Seq[String]] = {
    if (!pathExists(spark, s"$dir/_zonemap_multi")) return None
    val zm = ParquetUpsert.readKnown(spark, s"$dir/_zonemap_multi")
    val mapped = zm.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    checkCoverage(listDataFileNames(spark, dir).toSet, mapped, dir)
    val forCol = zm.filter(col("col") === statsCol).cache()
    try {
      if (forCol.limit(1).count() == 0) return None
      val isString =
        forCol.filter(col("zmin_str").isNotNull).limit(1).count() > 0
      def num(v: Any): Option[Double] = v match {
        case n: Number => Some(n.doubleValue)
        case _ => None
      }
      val pred: Option[Column] =
        if (isString) {
          if (lo.exists(!_.isInstanceOf[String]) || hi.exists(!_.isInstanceOf[String]))
            None
          else Some(
            lo.map(v => col("zmax_str") >= v.toString).getOrElse(lit(true)) &&
              hi.map(v => col("zmin_str") <= v.toString).getOrElse(lit(true)))
        } else {
          val loD = lo.map(num); val hiD = hi.map(num)
          if (loD.exists(_.isEmpty) || hiD.exists(_.isEmpty)) None
          else Some(
            loD.flatten.map(v => col("zmax") >= v).getOrElse(lit(true)) &&
              hiD.flatten.map(v => col("zmin") <= v).getOrElse(lit(true)))
        }
      pred.map(p => forCol.filter(p).select(col("file"))
        .collect().map(_.getString(0)).toSeq.sorted)
    } finally forCol.unpersist(): Unit
  }

  /** A bloom sidecar resolved ONCE for a whole optimizer pass: the
    * sidecar frame, its (verified single) geometry and indexed column,
    * and the key column's store type. Coverage is checked at load, so
    * per-value probes ([[bloomProbe]]) cost only the probe-position
    * job plus the distributive bitset filter — never a re-read of the
    * sidecar or a re-listing of the store. The bitsets themselves stay
    * in the frame (16 KiB × files is never collected). */
  final case class BloomCtx private[SkippingStore] (
      bm: DataFrame, nbits: Int, k: Int, keycol: String,
      keyType: org.apache.spark.sql.types.DataType)

  /** Resolve `dir`'s `_bloommap` for rule probing — None when absent,
    * pre-keycol (the rule can't verify WHICH column it indexes),
    * mixed-geometry, or keyed on a datetime column (a rule-extracted
    * timestamp literal arrives as micros-Long; `CAST(long AS
    * TIMESTAMP)` reads seconds, not the micros the index hashed).
    * Throws on coverage drift (the caller's fallback discipline). */
  def loadBloomCtx(spark: SparkSession, dir: String,
                   relative: Boolean = false): Option[BloomCtx] = {
    if (!pathExists(spark, s"$dir/_bloommap")) return None
    val bm = bloomMap(spark, dir)
    if (!bm.columns.contains("keycol")) return None
    val geom = bm.select(col("nbits"), col("k"), col("keycol"))
      .distinct().collect()
    if (geom.length != 1) return None
    val keyCol = geom.head.getString(2)
    val mapped = bm.select(col("file")).collect().map(_.getString(0)).toSet
    val actual = if (relative) listDataFileRelPaths(spark, dir)
                 else listDataFileNames(spark, dir)
    checkCoverage(actual.toSet, mapped, dir)
    val keyType = spark.read.parquet(dir).schema(keyCol).dataType
    keyType match {
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => None
      case _ =>
        Some(BloomCtx(bm, geom.head.getInt(0), geom.head.getInt(1),
          keyCol, keyType))
    }
  }

  /** The file names whose Bloom filter might contain `value` in
    * `keyCol`, probed through a pre-resolved [[BloomCtx]]. None when
    * the context indexes a different column or the literal's runtime
    * type falls outside the key column's type family: the index
    * hashed raw column values, so a cross-family probe (numeric
    * literal vs string index — "123.0" vs "123") would hash a value
    * the writer never saw and prune files that DO hold matching rows.
    * Within-family numeric casts (5L → int) are exact. False
    * negatives impossible, so a caller may only drop files that
    * provably lack the value. */
  def bloomProbe(spark: SparkSession, ctx: BloomCtx, keyCol: String,
                 value: Any): Option[Seq[String]] = {
    if (ctx.keycol != keyCol) return None
    val familyOk = (ctx.keyType, value) match {
      case (org.apache.spark.sql.types.StringType, _: String) => true
      case (_: org.apache.spark.sql.types.NumericType, _: java.lang.Number) => true
      case (org.apache.spark.sql.types.BooleanType, _: java.lang.Boolean) => true
      case _ => false
    }
    if (!familyOk) return None
    val probeCols = (0 until ctx.k).map(i =>
      pmod(xxhash64(lit(value).cast(ctx.keyType), lit(i)), lit(ctx.nbits.toLong)))
    val probe = spark.range(1).select(probeCols: _*).head()
    val want = (0 until ctx.k).map(i => probe.getLong(i))
    val iw = map_from_arrays(col("idxs"), col("words"))
    val hasAllBits = want.map { p =>
      coalesce(element_at(iw, lit((p / 64).toInt)), lit(0L))
        .bitwiseAND(lit(1L << (p % 64).toInt)) =!= lit(0L)
    }.reduce(_ && _)
    Some(ctx.bm.filter(hasAllBits)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted)
  }

  /** One-shot [[bloomProbe]] (kept for spec/direct callers — the rule
    * resolves a [[BloomCtx]] once per pass instead): the file names of
    * `dir` whose Bloom filter might contain `value` in `keyCol`.
    * Returns None on every "cannot prune" condition of the two-step
    * path. */
  def bloomFileNames(spark: SparkSession, dir: String, keyCol: String,
                     value: Any): Option[Seq[String]] = {
    value match {
      case _: String | _: java.lang.Number | _: java.lang.Boolean => ()
      case _ => return None
    }
    loadBloomCtx(spark, dir).flatMap(ctx =>
      bloomProbe(spark, ctx, keyCol, value))
  }

  /** Prune a [[writeMulti]] store on any NUMERIC or DATE/TIMESTAMP
    * indexed column: open only the files whose recorded [zmin, zmax]
    * for `statsCol` intersects [lo, hi] (widened doubles — datetimes
    * compare as epoch micros, the same widening the writer recorded),
    * residual filter on top. Same loud coverage check as
    * [[readPruned]]. String columns prune via [[readPrunedOnString]].
    * Returns (survivingFiles, totalFiles, frame). */
  def readPrunedOn(spark: SparkSession, dir: String, statsCol: String,
                   lo: Double, hi: Double): (Long, Long, DataFrame) = {
    val w = widenedNumeric(col(statsCol),
      spark.read.parquet(dir).schema(statsCol).dataType)
    require(w.isDefined,
      s"'$statsCol' is a string column — prune it with readPrunedOnString")
    readMultiPruned(spark, dir, statsCol,
      col("zmax") >= lo && col("zmin") <= hi,
      d => d.filter(w.get >= lo && w.get <= hi))
  }

  /** [[readPrunedOn]] for STRING stats columns: zone intersection and
    * residual both run in lexicographic string order — the Delta
    * string-min/max shape, covering the columns crawl stores actually
    * filter on (URLs, content hashes, status labels). Returns
    * (survivingFiles, totalFiles, frame). */
  def readPrunedOnString(spark: SparkSession, dir: String, statsCol: String,
                         lo: String, hi: String): (Long, Long, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    require(spark.read.parquet(dir).schema(statsCol).dataType == StringType,
      s"'$statsCol' is not a string column — prune it with readPrunedOn")
    readMultiPruned(spark, dir, statsCol,
      col("zmax_str") >= lo && col("zmin_str") <= hi,
      d => d.filter(col(statsCol) >= lo && col(statsCol) <= hi))
  }

  /** Read only the files whose [zmin, zmax] range intersects [lo, hi],
    * with the exact residual filter applied on top. The prune happens
    * on the driver over the file-count-sized zone map — the same shape
    * as a lake format's manifest scan — after verifying the map covers
    * exactly the store's data files. Returns (survivingFiles,
    * totalFiles, frame); an empty survivor set yields an empty frame
    * with the store's schema. */
  def readPruned(spark: SparkSession, dir: String, sortCol: String,
                 lo: Column, hi: Column): (Long, Long, DataFrame) = {
    val zm = zoneMap(spark, dir).cache()
    try {
      val mapped = zm.select(col("file")).collect().map(_.getString(0)).toSet
      checkCoverage(listDataFileNames(spark, dir).toSet, mapped, dir)
      val files = zm.filter(col("zmax") >= lo && col("zmin") <= hi)
        .select(col("file")).collect().map(r => s"$dir/${r.getString(0)}")
      val residual = (d: DataFrame) =>
        d.filter(col(sortCol) >= lo && col(sortCol) <= hi)
      if (files.isEmpty)
        (0L, mapped.size.toLong, residual(spark.read.parquet(dir)).limit(0))
      else
        (files.length.toLong, mapped.size.toLong,
          residual(spark.read.parquet(files.toIndexedSeq: _*)))
    } finally zm.unpersist()
  }

  /** Per-file Bloom-filter skipping for EQUALITY lookups on a column
    * whose values do not cluster by file — the case min/max zones
    * cannot prune (a content hash, URL, or id scattered uniformly
    * across every file's range). One fixed-size bitset per file lives
    * in a `_bloommap` sidecar; a point lookup tests its k probe bits
    * against each file's set and opens only the files that might hold
    * the value. False positives cost one extra file read; false
    * negatives are impossible (no-false-negative property spec'd).
    *
    * The bitset is built DISTRIBUTIVELY: probe positions are
    * `xxhash64(value, seed) mod nbits`, packed into 64-bit words by a
    * two-level `bit_or` aggregation keyed on (file, word index) — the
    * sidecar row for a file is at most `nbits/64` longs regardless of
    * the file's cardinality, and nothing value-sized ever reaches the
    * driver. At 16 KiB per file (the default 2^17 bits), a million-file
    * 100 TB store carries a 16 GB index; lookups therefore probe it
    * DISTRIBUTIVELY too ([[readBloomEq]] filters the sidecar as a
    * DataFrame and collects only surviving file names), so driver memory
    * stays O(file names), never O(bitsets). */
  def bloomIndex(spark: SparkSession, dir: String, keyCol: String,
                 nbits: Int = 1 << 17, k: Int = 5): Unit = {
    require(nbits % 64 == 0 && nbits > 0, "nbits must be a positive multiple of 64")
    require(k >= 1, "need at least one hash")
    bloomRows(spark.read.parquet(dir), keyCol, nbits, k)
      .coalesce(1) // file-count-sized by construction
      .write.mode("overwrite").parquet(s"$dir/_bloommap")
  }

  /** One (file, idxs, words, nbits, k, keycol) sidecar row per data
    * file of `data` — the distributive two-level bit_or packing shared
    * by [[bloomIndex]] and [[bloomAppend]]. `keycol` records WHICH
    * column the filter indexes, so the transparent optimizer rule
    * ([[graft.plans.ZonePruneRule]]) can verify a predicate targets
    * the indexed column before trusting the sidecar; pre-keycol
    * sidecars are simply not rule-prunable ([[bloomFileNames]] returns
    * None for them). */
  private def bloomRows(data: DataFrame, keyCol: String,
                        nbits: Int, k: Int,
                        fileKey: Column =
                          regexp_extract(input_file_name(), "[^/]+$", 0))
      : DataFrame = {
    val probes = (0 until k).map(i =>
      pmod(xxhash64(col(keyCol), lit(i)), lit(nbits.toLong)).as(s"p$i"))
    data
      .select((fileKey.as("file") +: probes): _*)
      .select(col("file"), explode(array((0 until k).map(i => col(s"p$i")): _*)).as("pos"))
      .groupBy(col("file"), (col("pos") / 64).cast("int").as("idx"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("word"))
      .groupBy(col("file"))
      .agg(sort_array(collect_list(struct(col("idx"), col("word")))).as("iw"))
      .select(col("file"),
        col("iw.idx").as("idxs"), col("iw.word").as("words"),
        lit(nbits).as("nbits"), lit(k).as("k"), lit(keyCol).as("keycol"))
  }

  /** Extend the bloom sidecar to cover files appended since the last
    * index pass — the equality-skipping mirror of [[append]]'s zone
    * maintenance: only the NEW files are scanned (one pass over the
    * appended data, not the table), with the filter geometry read from
    * the existing sidecar so mixed-geometry maps can't arise. Fails
    * loudly when no sidecar exists (build with [[bloomIndex]] first). */
  def bloomAppend(spark: SparkSession, dir: String, keyCol: String): Unit = {
    SidecarFold.restoreAside(spark, s"$dir/_bloommap")
    require(pathExists(spark, s"$dir/_bloommap"),
      s"$dir has no _bloommap — build it with bloomIndex before appending")
    val bm = bloomMap(spark, dir)
    val geom = bm.select(col("nbits"), col("k")).distinct().collect()
    require(geom.length == 1,
      s"$dir/_bloommap mixes filter geometries — rebuild with bloomIndex")
    val nbits = geom.head.getInt(0)
    val k = geom.head.getInt(1)
    if (bm.columns.contains("keycol")) {
      val kc = bm.select(col("keycol")).distinct().collect().map(_.getString(0))
      require(kc.sameElements(Array(keyCol)),
        s"$dir/_bloommap indexes ${kc.mkString(",")}, not $keyCol — rebuild with bloomIndex")
    }
    val mapped = bm.select(col("file")).collect().map(_.getString(0)).toSet
    val newFiles = listDataFileNames(spark, dir).filterNot(mapped)
    if (newFiles.nonEmpty) {
      val rows = bloomRows(spark.read.parquet(newFiles.map(n => s"$dir/$n"): _*),
        keyCol, nbits, k)
      // a pre-keycol sidecar keeps its schema — mixed parquet footers
      // would make the unmerged sidecar read schema-dependent
      (if (bm.columns.contains("keycol")) rows else rows.drop("keycol"))
        .coalesce(1)
        .write.mode("append").parquet(s"$dir/_bloommap")
      // same one-file-per-append decay as the zonemap — fold on the
      // shared threshold so point-lookup plans keep a bounded read
      // (NO mergeSchema: a pre-keycol sidecar keeps its own schema)
      SidecarFold.foldIfDecayed(spark, s"$dir/_bloommap", 64)(identity)
      ()
    }
  }

  /** Build — or incrementally EXTEND — the `_bloommap` of a
    * PARTITIONED store, keyed by partition-relative file path (the
    * [[indexPartitioned]] convention: bare part- names are ambiguous
    * across partition dirs). Only unmapped files are scanned. This is
    * the point-lookup prune INSIDE surviving partitions — e.g. fetch
    * or delete ONE vector's posting from a cell-partitioned store by
    * its id without reading the whole probed list. */
  def bloomIndexPartitioned(spark: SparkSession, dir: String, keyCol: String,
                            nbits: Int = 1 << 17, k: Int = 5): Unit = {
    require(nbits % 64 == 0 && nbits > 0, "nbits must be a positive multiple of 64")
    require(k >= 1, "need at least one hash")
    val side = s"$dir/_bloommap"
    val (known, nb, kk) =
      if (!pathExists(spark, side)) (Set.empty[String], nbits, k)
      else {
        val bm = bloomMap(spark, dir)
        require(bm.columns.contains("keycol"),
          s"$side predates the keycol marker — rebuild with bloomIndexPartitioned")
        val geom = bm.select(col("nbits"), col("k"), col("keycol"))
          .distinct().collect()
        require(geom.length == 1 && geom.head.getString(2) == keyCol,
          s"$side geometry/key mismatch — rebuild with bloomIndexPartitioned")
        (bm.select(col("file")).collect().map(_.getString(0)).toSet,
          geom.head.getInt(0), geom.head.getInt(1))
      }
    val newFiles = listDataFileRelPaths(spark, dir).filterNot(known)
    if (newFiles.isEmpty) return
    bloomRows(spark.read.parquet(newFiles.map(f => s"$dir/$f"): _*),
        keyCol, nb, kk,
        regexp_extract(input_file_name(), "((?:[^/]+=[^/]*/)*[^/]+)$", 1))
      .coalesce(1)
      .write.mode(if (known.isEmpty) "overwrite" else "append").parquet(side)
  }

  /** The bloom sidecar as a DataFrame (one row per data file). */
  def bloomMap(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/_bloommap")

  /** Equality lookup through the bloom sidecar: open only the files
    * whose filter holds every probe bit of `value`, then apply the
    * exact residual `keyCol = value` on top. Same driver-side,
    * file-count-sized prune shape as [[readPruned]], with the same
    * loud coverage check against the store's actual files. Returns
    * (survivingFiles, totalFiles, frame). */
  def readBloomEq(spark: SparkSession, dir: String, keyCol: String,
                  value: String): (Long, Long, DataFrame) = {
    val bm = bloomMap(spark, dir).cache()
    try {
      // geometry check via a tiny distinct — the driver never sees a bitset
      val geom = bm.select(col("nbits"), col("k")).distinct().collect()
      require(geom.nonEmpty, s"$dir/_bloommap is empty — rebuild with bloomIndex")
      require(geom.length == 1,
        s"$dir/_bloommap mixes filter geometries — rebuild with bloomIndex")
      val nbits = geom.head.getInt(0)
      val k = geom.head.getInt(1)
      val mapped = bm.select(col("file")).collect().map(_.getString(0)).toSet
      checkCoverage(listDataFileNames(spark, dir).toSet, mapped, dir)
      // the probe positions via the SAME expression the index used, on a
      // literal cast to the store's column type — one driver-local job
      val keyType = spark.read.parquet(dir).schema(keyCol).dataType
      val probeCols = (0 until k).map(i =>
        pmod(xxhash64(lit(value).cast(keyType), lit(i)), lit(nbits.toLong)))
      val probe = spark.range(1).select(probeCols: _*).head()
      val want = (0 until k).map(i => probe.getLong(i))
      // the k probe-bit tests evaluate INSIDE the sidecar scan as a plain
      // column predicate (map lookup + mask over the packed words); only
      // the SURVIVING file names ever reach the driver — O(survivors)
      // driver memory at a million files, not 16 GB of bitsets
      val iw = map_from_arrays(col("idxs"), col("words"))
      val hasAllBits = want.map { p =>
        coalesce(element_at(iw, lit((p / 64).toInt)), lit(0L))
          .bitwiseAND(lit(1L << (p % 64).toInt)) =!= lit(0L)
      }.reduce(_ && _)
      val files = bm.filter(hasAllBits)
        .select(col("file")).collect().map(r => s"$dir/${r.getString(0)}")
      val residual = (d: DataFrame) =>
        d.filter(col(keyCol) === lit(value).cast(keyType))
      if (files.isEmpty)
        (0L, mapped.size.toLong, residual(spark.read.parquet(dir)).limit(0))
      else
        (files.length.toLong, mapped.size.toLong,
          residual(spark.read.parquet(files.toIndexedSeq: _*)))
    } finally bm.unpersist()
  }

  /** Multi-value equality lookup through the bloom sidecar in ONE
    * sidecar pass — the dynamic-file-pruning shape for star joins: the
    * small side's distinct keys probe every file's filter together
    * (an OR over per-value AND-of-bit-tests, evaluated as a column
    * predicate inside the sidecar scan), and only files that might
    * hold ANY key are opened. Driver memory stays O(survivor names);
    * probe positions for all values come from one bounded local job.
    * Returns (survivingFiles, totalFiles, frame filtered to
    * keyCol ∈ values). `values` is capped: a fact-sized key list means
    * the caller's join is not dimension-shaped and must shuffle
    * instead. */
  def readBloomIn(spark: SparkSession, dir: String, keyCol: String,
                  values: Seq[String], maxValues: Int = 256):
      (Long, Long, DataFrame) = {
    require(values.nonEmpty, "need at least one probe value")
    require(values.length <= maxValues,
      s"${values.length} probe values exceed the $maxValues cap — " +
        "a key list this large is not dimension-shaped; shuffle-join instead")
    val bm = bloomMap(spark, dir).cache()
    try {
      val geom = bm.select(col("nbits"), col("k")).distinct().collect()
      require(geom.nonEmpty, s"$dir/_bloommap is empty — rebuild with bloomIndex")
      require(geom.length == 1,
        s"$dir/_bloommap mixes filter geometries — rebuild with bloomIndex")
      // the sidecar must index THIS column: probing a filter built on a
      // different key would silently prune wrong files and drop rows
      // (the same check bloomAppend and bloomFileNames perform)
      if (bm.columns.contains("keycol")) {
        val kc = bm.select(col("keycol")).distinct().collect()
        require(kc.length == 1 && kc.head.getString(0) == keyCol,
          s"$dir/_bloommap indexes '${kc.map(_.getString(0)).mkString(",")}', " +
            s"not '$keyCol' — rebuild with bloomIndex on the probe column")
      }
      val nbits = geom.head.getInt(0)
      val k = geom.head.getInt(1)
      val mapped = bm.select(col("file")).collect().map(_.getString(0)).toSet
      checkCoverage(listDataFileNames(spark, dir).toSet, mapped, dir)
      val keyType = spark.read.parquet(dir).schema(keyCol).dataType
      import spark.implicits._
      val probeCols = (0 until k).map(i =>
        pmod(xxhash64(col("value").cast(keyType), lit(i)), lit(nbits.toLong))
          .as(s"p$i"))
      val probes = values.toDF("value").select(probeCols: _*).collect()
        .map(r => (0 until k).map(r.getLong))
      val iw = map_from_arrays(col("idxs"), col("words"))
      val anyValue = probes.map { want =>
        want.map { p =>
          coalesce(element_at(iw, lit((p / 64).toInt)), lit(0L))
            .bitwiseAND(lit(1L << (p % 64).toInt)) =!= lit(0L)
        }.reduce(_ && _)
      }.reduce(_ || _)
      val files = bm.filter(anyValue)
        .select(col("file")).collect().map(r => s"$dir/${r.getString(0)}")
      val residual = (d: DataFrame) =>
        d.filter(col(keyCol).isin(values.map(lit(_).cast(keyType)): _*))
      if (files.isEmpty)
        (0L, mapped.size.toLong, residual(spark.read.parquet(dir)).limit(0))
      else
        (files.length.toLong, mapped.size.toLong,
          residual(spark.read.parquet(files.toIndexedSeq: _*)))
    } finally bm.unpersist()
  }

  /** Dimension-join against an indexed store with dynamic file
    * pruning: collect the dimension's distinct join keys (cap-checked
    * — the premise IS that this side is small), [[readBloomIn]]-prune
    * the store to candidate files, then join only the survivors. The
    * star-schema shape where a 100 TB fact store joins a
    * thousand-row dimension by opening a handful of files instead of
    * scanning the table — Spark's dynamic partition pruning, at file
    * granularity, for stores partitioned by nothing. */
  def joinPruned(store: String, dim: DataFrame, keyCol: String,
                 maxKeys: Int = 256): DataFrame = {
    val spark = dim.sparkSession
    val keys = dim.select(col(keyCol).cast("string")).distinct()
      .limit(maxKeys + 1).collect().map(_.getString(0)).toSeq
    require(keys.length <= maxKeys,
      s"dimension has more than $maxKeys distinct keys — not " +
        "dimension-shaped; shuffle-join the store instead")
    val (_, _, facts) = readBloomIn(spark, store, keyCol, keys)
    facts.join(broadcast(dim), Seq(keyCol))
  }

  /** Loud drift check: rows must never silently vanish because a file
    * missed indexing (crash between data and map write, foreign
    * writer), nor double-count because the map lists a file twice. */
  private def checkCoverage(actual: Set[String], mapped: Set[String],
                            dir: String): Unit = {
    val unindexed = actual -- mapped
    val phantom = mapped -- actual
    require(unindexed.isEmpty && phantom.isEmpty,
      s"zone map out of sync with $dir: ${unindexed.size} data files " +
        s"unindexed ${unindexed.take(3).mkString("(", ",", ")")}, " +
        s"${phantom.size} indexed files missing " +
        s"${phantom.take(3).mkString("(", ",", ")")} — rewrite the store")
  }

  /** Coverage check that infers the store layout from the sidecar's
    * own keys: relative paths (contain '/') mean a partitioned store
    * ([[indexPartitioned]]), bare names a flat one. Lets the
    * metadata-only readers serve BOTH layouts without a caller flag. */
  private def checkCoverageAuto(spark: SparkSession, dir: String,
                                mapped: Set[String]): Unit = {
    // an EMPTY mapped set defeats the layout inference: on a
    // partitioned store the flat listing below is also empty, so the
    // check would pass vacuously and a metadata-only reader could
    // answer 0 for a non-empty store. No current writer produces a
    // zero-row sidecar — fail loud, not silent.
    require(mapped.nonEmpty,
      s"zone map for $dir maps no files — cannot verify coverage; " +
        "rebuild the sidecar")
    val actual =
      if (mapped.exists(_.contains("/"))) listDataFileRelPaths(spark, dir)
      else listDataFileNames(spark, dir)
    checkCoverage(actual.toSet, mapped, dir)
  }

  private def mappedFileNames(spark: SparkSession, dir: String): Set[String] =
    zoneMap(spark, dir).select(col("file")).collect()
      .map(_.getString(0)).toSet

  /** Data-file names under `dir` via its OWN Hadoop filesystem, so
    * local, file:, and cluster (hdfs/s3a) stores all list correctly. */
  private def listDataFileNames(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toSeq
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
