package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the driver-side `_corpus_stats` row write (r16) to the Spark
  * write it replaced: a store ingested with the direct writer must
  * read back IDENTICAL stats (n, sdl, nbuckets, term filter, df
  * sketch) to one ingested with the Spark writer
  * ([[TextIndex.statsDriverWrite]] off), and a
  * MIXED sidecar (one file from each writer) must merge cleanly. */
class StatsRowWriteSpec extends SparkSpec {

  private def tmpStore(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_srw_$tag")
    d.toFile.deleteOnExit()
    d.toString + "/store"
  }

  private def docs(offset: Int = 0) = {
    import spark.implicits._
    (0 until 120).map { i =>
      val id = (i + offset).toLong
      (id, s"alpha beta w$id gamma ${if (id % 2 == 0) "even" else "odd"}")
    }.toDF("doc_id", "text")
  }

  private def withSparkWrite[T](f: => T): T = {
    TextIndex.statsDriverWrite = false
    try f
    finally TextIndex.statsDriverWrite = true
  }

  private def statsRows(dir: String): Seq[String] =
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/_corpus_stats")
      .select(col("bid"), col("n"), col("sdl"), col("nbuckets"),
        col("tf_bits"), col("df_sketch"))
      .collect().map(_.toString).sorted.toSeq

  test("direct stats row == Spark-written stats row, and they mix") {
    val dDirect = tmpStore("direct"); val dSpark = tmpStore("spark")
    TextIndex.build(docs(), "doc_id", "text", dDirect, nBuckets = 4,
      filesPerBucket = 2)
    withSparkWrite {
      TextIndex.build(docs(), "doc_id", "text", dSpark, nBuckets = 4,
        filesPerBucket = 2)
    }
    assert(statsRows(dDirect) == statsRows(dSpark),
      "the two writers must land bit-identical stats rows")
    // mixed sidecar: direct build + Spark-written append row
    withSparkWrite {
      TextIndex.append(docs(offset = 120), "doc_id", "text", dDirect,
        filesPerBucket = 2)
    }
    TextIndex.append(docs(offset = 120), "doc_id", "text", dSpark,
      filesPerBucket = 2)
    assert(statsRows(dDirect) == statsRows(dSpark),
      "mixed-writer sidecars must read identically either way round")
    // and the serve path agrees end to end
    val a = TextIndex.topK(spark, dDirect, Seq("even", "alpha"), 7)
      .collect().toSeq
    val b = TextIndex.topK(spark, dSpark, Seq("even", "alpha"), 7)
      .collect().toSeq
    assert(a == b, "serves over the two stores must agree row-for-row")
  }
}
