package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the footer-stats zone derivation (r16 optimization) to the
  * data-scan path it replaced: [[SkippingStore.indexPartitioned]] must
  * produce BIT-IDENTICAL `_zonemap_multi` rows whether stats come from
  * parquet footers (default) or the original column-pruned leaf scan
  * (`SkippingStore.footerStats` off) — strings with nulls, longs, empty
  * and all-null slices, build and incremental append alike. Both paths
  * index the SAME store (sidecar dropped in between), so rows compare
  * bit-for-bit, file keys included. */
class FooterZoneStatsSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_fzs_$tag")
    d.toFile.deleteOnExit()
    d.toString + "/store"
  }

  private def sidecarRows(dir: String): Seq[String] = {
    spark.read.parquet(s"$dir/_zonemap_multi")
      .select(col("file"), col("col"), col("zmin"), col("zmax"),
        col("zmin_str"), col("zmax_str"), col("nrows"), col("nnulls"),
        col("tz"))
      .collect().map(_.toString).sorted.toSeq
  }

  private def dropSidecar(dir: String): Unit =
    HadoopSwap.deleteRecursive(spark, s"$dir/_zonemap_multi")

  private def corpus(n: Int, offset: Int = 0) = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = i + offset
      val w = if (id % 17 == 0) null
        else s"term_${"abcdefghij".charAt(id % 10)}_$id"
      (id % 4, w, id.toLong * 7L)
    }.toDF("tb", "w", "v")
  }

  private def writeSlice(df: org.apache.spark.sql.DataFrame, dir: String,
                         mode: String): Unit =
    df.repartitionByRange(4, col("tb"), col("w"))
      .sortWithinPartitions(col("tb"), col("w"))
      .write.partitionBy("tb").mode(mode).parquet(dir)

  private def withScanPath[T](f: => T): T = {
    SkippingStore.footerStats = false
    try f
    finally SkippingStore.footerStats = true
  }

  test("footer stats == data-scan stats on build (strings+nulls, longs)") {
    val d = tmpDir("build")
    writeSlice(corpus(400), d, "overwrite")
    SkippingStore.indexPartitioned(spark, d, Seq("w", "v"))
    val footer = sidecarRows(d)
    dropSidecar(d)
    withScanPath { SkippingStore.indexPartitioned(spark, d, Seq("w", "v")) }
    val scan = sidecarRows(d)
    assert(footer.nonEmpty)
    assert(footer == scan,
      "footer-derived sidecar rows must equal scan-derived rows")
  }

  test("footer stats == data-scan stats on incremental append") {
    val d = tmpDir("append")
    writeSlice(corpus(300), d, "overwrite")
    SkippingStore.indexPartitioned(spark, d, Seq("w", "v"))
    writeSlice(corpus(150, 300), d, "append")
    SkippingStore.indexPartitioned(spark, d, Seq("w", "v"))
    val footer = sidecarRows(d)
    dropSidecar(d)
    withScanPath { SkippingStore.indexPartitioned(spark, d, Seq("w", "v")) }
    val scan = sidecarRows(d)
    assert(footer.size == scan.size && footer == scan,
      "incrementally extended footer rows must equal a scan rebuild")
  }

  test("an all-null string slice keeps exact null stats") {
    import spark.implicits._
    val d = tmpDir("allnull")
    val df = (0 until 50)
      .map(i => (i % 2, null: String, i.toLong)).toDF("tb", "w", "v")
    writeSlice(df, d, "overwrite")
    SkippingStore.indexPartitioned(spark, d, Seq("w"))
    val footer = sidecarRows(d)
    dropSidecar(d)
    withScanPath { SkippingStore.indexPartitioned(spark, d, Seq("w")) }
    assert(footer == sidecarRows(d))
    assert(footer.forall(_.contains("null,null,null,null")),
      s"an all-null column must carry null min/max: $footer")
  }

  test("unsupported column types fall back to the scan (same rows)") {
    import spark.implicits._
    val d = tmpDir("dbl")
    val df = (0 until 60)
      .map(i => (i % 2, i.toDouble / 3.0)).toDF("tb", "d")
    df.repartitionByRange(2, col("tb"), col("d"))
      .sortWithinPartitions(col("tb"), col("d"))
      .write.partitionBy("tb").mode("overwrite").parquet(d)
    SkippingStore.indexPartitioned(spark, d, Seq("d"))
    val footer = sidecarRows(d)
    dropSidecar(d)
    withScanPath { SkippingStore.indexPartitioned(spark, d, Seq("d")) }
    assert(footer == sidecarRows(d))
  }
}
