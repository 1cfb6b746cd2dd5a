package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Keyed parquet upsert shared by the store side-tables (sequence,
  * feature_pub, stock tables): anti-join novelty on `keys`, then the
  * delta alone is appended — the same J1 merge shape as the main DAG,
  * whose per-table writes go through the same [[appendDelta]] sink.
  * Returns the inserted-row count (the reference's per-table golden
  * number). On a cluster the same frames write to staging + a
  * transactional merge; the parquet append is the local-harness analog.
  *
  * Store layout: each load adds at most one file set per changed table;
  * a re-load that inserts nothing writes nothing. */
object ParquetUpsert {

  /** Footer row schemas of Spark-written files by the file's qualified
    * path. Part files are never rewritten in place (every write lands
    * new names), so an entry never goes stale; bounded by a wholesale
    * clear. */
  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Files past which a merged [[knownSchema]] declines: the merge
    * reads every footer on the driver, which suits sidecars (they fold
    * at 64 files) but not a whole store. */
  private val MergeMaxFiles = 256

  /** One file's data schema exactly as schema inference derives it —
    * Spark's own footer reader: the JSON row schema its writer stores
    * under `org.apache.spark.sql.parquet.row.metadata`, else the
    * parquet schema converted under the session's settings. */
  private def footerSchema(spark: SparkSession, file: Path): StructType =
    Option(footerSchemas.get(file.toString)).getOrElse {
      import org.apache.spark.sql.execution.datasources.parquet.{
        ParquetFileFormat, ParquetToSparkSchemaConverter}
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
          spark.sparkContext.hadoopConfiguration))
      val meta = try reader.getFooter finally reader.close()
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      // a converted schema depends on session settings: not memoized
      if (meta.getFileMetaData.getKeyValueMetaData.containsKey(
            "org.apache.spark.sql.parquet.row.metadata")) {
        if (footerSchemas.size > 4096) footerSchemas.clear()
        footerSchemas.put(file.toString, schema)
      }
      schema
    }

  /** `t` with every field, element and value nullable — the form a
    * file source gives any data schema, inferred or supplied. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), true)
    case other => other
  }

  /** The data schema Spark's schema inference gives `paths`, found on
    * the driver without a Spark job. Without `merge` it is the footer
    * schema of the listing's first data file by path string — the
    * file inference itself reads. With `merge` (a `mergeSchema` read)
    * it is the schema every data file's footer agrees on up to
    * nullability, which is what the merge yields; None when they
    * differ or there are more than [[MergeMaxFiles]]. Partition
    * columns are not in it; path discovery still adds them. None —
    * callers then infer as usual — also when inference would read
    * something else (a summary file, a session-wide `mergeSchema`), or
    * when the listing or a footer read fails, e.g. against a file a
    * sidecar fold has just swapped away. */
  def knownSchema(spark: SparkSession, paths: Seq[String],
                  merge: Boolean = false): Option[StructType] =
    if (!merge &&
        spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
      None
    else try {
      // the file index's leaf listing: names starting with `_` or `.`
      // are not data, except partition directories and summary files
      def hidden(name: String) =
        ((name.startsWith("_") && !name.contains("=")) ||
          name.startsWith(".") || name.endsWith("._COPYING_")) &&
          !name.startsWith("_metadata") && !name.startsWith("_common_metadata")
      def leaves(fs: FileSystem, dir: Path): Seq[FileStatus] =
        fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName))
          .flatMap(st => if (st.isDirectory) leaves(fs, st.getPath)
            else Seq(st))
      val files = paths.flatMap { p =>
        val path = new Path(p)
        leaves(path.getFileSystem(spark.sparkContext.hadoopConfiguration),
          path) // a file lists as itself
      }.map(_.getPath)
      if (files.isEmpty || files.exists(f =>
            f.getName == "_metadata" || f.getName == "_common_metadata"))
        None
      else if (!merge) Some(footerSchema(spark, files.minBy(_.toString)))
      else if (files.size > MergeMaxFiles) None
      else files.map(f => nullable(footerSchema(spark, f))).distinct match {
        case Seq(s: StructType) => Some(s)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet(paths)` with the [[knownSchema]], so no
    * schema-inference job runs; plain inference when it is None. */
  def readKnown(spark: SparkSession, paths: String*): DataFrame =
    knownSchema(spark, paths).fold(spark.read)(spark.read.schema)
      .parquet(paths: _*)

  /** [[readKnown]] of the files `rel` (paths relative to `dir`), with
    * `dir` as the partition base path. */
  def readKnownUnder(spark: SparkSession, dir: String,
                     rel: Seq[String]): DataFrame = {
    val paths = rel.map(f => s"$dir/$f")
    knownSchema(spark, paths).fold(spark.read)(spark.read.schema)
      .option("basePath", dir).parquet(paths: _*)
  }

  /** A `mergeSchema` read of `path` with the merged [[knownSchema]],
    * so no schema-merge job runs when the files agree; the merging
    * read when they do not. */
  def readKnownMerged(spark: SparkSession, path: String): DataFrame =
    knownSchema(spark, Seq(path), merge = true)
      .fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
      .parquet(path)

  /** The live table at `path` read with `schema` — the staging side's,
    * so no schema-inference job runs — or None when it does not exist. */
  def readLive(spark: SparkSession, path: String,
               schema: StructType): Option[DataFrame] =
    if (HadoopSwap.exists(spark, path)) Some(spark.read.schema(schema).parquet(path))
    else None

  /** Append a materialized delta of `rows` rows to the table at `path`.
    * An empty delta leaves an existing table untouched (no new files);
    * a missing table is created even when empty, so readers find its
    * schema. Callers pass a checkpointed delta they have already
    * counted, so the write is its one remaining job. */
  def appendDelta(delta: DataFrame, path: String, rows: Long,
                  partitionBy: Seq[String] = Nil): Unit =
    if (rows > 0 || !HadoopSwap.exists(delta.sparkSession, path))
      delta.write.mode("append").partitionBy(partitionBy: _*).parquet(path)

  def apply(spark: SparkSession, df: DataFrame, path: String,
            keys: Seq[String]): Long = {
    // in-batch dedup first: a key repeated WITHIN the input (a corrected
    // row appended to a curation TSV rather than edited) must not
    // persist twice in a keyed table — keep one row per key,
    // deterministically (min over the remaining columns), like the
    // reference's per-row find-or-create creates each id once
    val nonKey = df.columns.filterNot(keys.contains)
    val deduped =
      if (nonKey.isEmpty) df.dropDuplicates(keys)
      else df.groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.struct(nonKey.map(col).toIndexedSeq: _*)).as("_r"))
        .select(keys.map(col) ++ nonKey.map(c => col(s"_r.$c").as(c)): _*)
    val delta = readLive(spark, path, df.schema) match {
      case None => deduped.localCheckpoint()
      case Some(live) =>
        // null-SAFE anti-join: a nullable key column (e.g. an empty TSV
        // value field) must still dedup against itself, or every
        // re-import re-inserts the null-keyed rows and idempotence
        // silently breaks
        val o = live.select(keys.map(col): _*).alias("o")
        val cond = keys.map(k => col(s"n.$k") <=> col(s"o.$k")).reduce(_ && _)
        deduped.alias("n").join(o, cond, "left_anti").localCheckpoint()
    }
    val n = delta.count()
    appendDelta(delta, path, n)
    n
  }
}
