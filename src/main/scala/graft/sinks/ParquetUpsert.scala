package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

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
