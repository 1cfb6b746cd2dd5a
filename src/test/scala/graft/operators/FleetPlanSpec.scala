package graft.operators

import graft.{JobNames, SparkSpec}
import graft.sinks.ParquetUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stores read with a known schema, and shard fleets served in one plan:
  *   - [[ParquetUpsert.readKnown]] gives exactly the schema Spark's
  *     inference gives, for every store layout and sidecar the text
  *     engine writes and for a partitioned Chado table, without falling
  *     back to inference;
  *   - the front door's fleet serve, pruned and unpruned, equals the
  *     one-store serve over the union, and a doc_id held by two shards
  *     still ranks as two docs;
  *   - warm serves run no schema-inference job.
  */
class FleetPlanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_fleet_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select($"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Double)].collect().toSeq

  /** Banded docs: 0-9 dense and short in x and y (high caps), 10-29
    * one long x doc each, 30-49 one long y doc each (low caps). */
  private def docs(from: Long, until: Long): DataFrame =
    (from until until).map { i =>
      val filler = Seq.tabulate(30)(j => s"f${(i + j) % 7}").mkString(" ")
      (i, if (i < 10) "x x x y y y" else if (i < 30) s"x $filler"
        else s"y $filler")
    }.toDF("doc_id", "text")

  private def assertKnown(paths: String*): Unit = {
    assert(ParquetUpsert.knownSchema(spark, paths).isDefined,
      s"no footer schema for ${paths.mkString(", ")}")
    assert(ParquetUpsert.readKnown(spark, paths: _*).schema ==
      spark.read.parquet(paths: _*).schema, paths.mkString(", "))
  }

  test("the known schema equals inference for stores, sidecars and a " +
      "partitioned table") {
    val bag = tmp("bag")
    TextIndex.build(docs(0, 40), "doc_id", "text", bag, nBuckets = 4)
    TextIndex.buildBlockStats(spark, bag)
    TextIndex.buildVocab(spark, bag)
    assert(TextIndex.delete(spark, bag, Seq(3L, 31L).toDF("id"), "id") == 2L)
    Seq("", "/_blockmax", "/_tombstones", "/_vocab", "/_doclen",
        "/_zonemap_multi")
      .foreach(s => assertKnown(bag + s))
    val pos = tmp("pos")
    TextIndex.buildPositional(docs(0, 40), "doc_id", "text", pos,
      nBuckets = 4)
    assertKnown(pos)
    // streamed batches carry `_applied_batch`, batch-API ones do not:
    // after a compaction and a plain append the files differ in it
    val mixed = tmp("mixed")
    TextIndex.build(docs(0, 20), "doc_id", "text", mixed, nBuckets = 4,
      marker = Some(1L))
    TextIndex.compact(spark, mixed)
    TextIndex.append(docs(20, 40), "doc_id", "text", mixed)
    val files = graft.sinks.SkippingStore.listDataFileRelPaths(spark, mixed)
    assert(files.map(f => spark.read.parquet(s"$mixed/$f").columns
      .contains("_applied_batch")).distinct.size == 2)
    assertKnown(mixed)
    // `_corpus_stats` after a compaction and an append: a Spark-written
    // file and a driver-written one, merged
    val stats = mixed + "/_corpus_stats"
    assert(ParquetUpsert.knownSchema(spark, Seq(stats), merge = true)
      .isDefined)
    assert(ParquetUpsert.readKnownMerged(spark, stats).schema ==
      spark.read.option("mergeSchema", "true").parquet(stats).schema)
    assert(ParquetUpsert.readKnownUnder(spark, mixed, files.reverse).schema ==
      spark.read.option("basePath", mixed)
        .parquet(files.reverse.map(f => s"$mixed/$f"): _*).schema)
    // featureloc's layout: partitioned by srcfeature, appended to
    val loc = tmp("featureloc")
    def locRows(ref: String, n: Int) = (0 until n)
      .map(i => (s"$ref.g$i", ref, i * 10L, i * 10L + 5, 0)).toDF(
        "uniquename", "srcfeature", "fmin", "fmax", "rank")
    locRows("chr1", 3).write.partitionBy("srcfeature").parquet(loc)
    locRows("chr2", 2).write.mode("append").partitionBy("srcfeature")
      .parquet(loc)
    assertKnown(loc)
    assert(ParquetUpsert.readKnown(spark, loc).columns.last == "srcfeature")
  }

  test("the fleet serve equals the union store for BM25 and LM, pruned " +
      "and unpruned; a doc_id in two shards ranks twice") {
    val s0 = tmp("s0")
    val s1 = tmp("s1")
    val whole = tmp("whole")
    // shard 0 holds the dense band and the x band, shard 1 the y band
    TextIndex.build(docs(0, 30), "doc_id", "text", s0, nBuckets = 4)
    TextIndex.build(docs(30, 50), "doc_id", "text", s1, nBuckets = 4)
    TextIndex.build(docs(0, 50), "doc_id", "text", whole, nBuckets = 4)
    val terms = Seq("x", "y")
    def check(route: String): Unit =
      for (sc <- Seq("bm25", "lm"); k <- Seq(3, 12)) {
        val want = rows(TextIndex.serve(spark, Seq(whole), terms, k, sc))
        assert(rows(TextIndex.serve(spark, Seq(s0, s1), terms, k, sc)) ==
          want, s"$sc k=$k $route")
        assert(TextIndex.lastServeRoute.contains(
          if (sc == "bm25") route else "lm" + route.capitalize))
      }
    check("topKSharded")
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.buildBlockStats(spark, s1)
    check("topKShardedPruned")
    assert(TextIndex.lastPruneStats.exists(s => !s.delegated))

    // doc 1 in both shards: two docs to the fleet, pruned or not
    val d0 = tmp("dup0")
    val d1 = tmp("dup1")
    TextIndex.build(Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text"),
      "doc_id", "text", d0, nBuckets = 2)
    TextIndex.build(Seq((1L, "x x q"), (3L, "z")).toDF("doc_id", "text"),
      "doc_id", "text", d1, nBuckets = 2)
    val unpruned = rows(TextIndex.serve(spark, Seq(d0, d1), terms, 5))
    assert(unpruned.count(_._1 == 1L) == 2, unpruned)
    assert(unpruned.map(_._2).sorted == Seq(1L, 1L, 2L))
    TextIndex.buildBlockStats(spark, d0)
    TextIndex.buildBlockStats(spark, d1)
    assert(rows(TextIndex.serve(spark, Seq(d0, d1), terms, 5)) == unpruned)
    assert(TextIndex.lastServeRoute.contains("topKShardedPruned"))
  }

  test("warm local, fleet and batched serves run no schema-inference job") {
    val one = tmp("one")
    val s0 = tmp("w0")
    val s1 = tmp("w1")
    TextIndex.build(docs(0, 50), "doc_id", "text", one, nBuckets = 4)
    TextIndex.build(docs(0, 30), "doc_id", "text", s0, nBuckets = 4)
    TextIndex.build(docs(30, 50), "doc_id", "text", s1, nBuckets = 4)
    Seq(one, s0, s1).foreach(TextIndex.buildBlockStats(spark, _))
    // a second batch overlaps the first's zones: the local serve prunes
    TextIndex.append(docs(50, 60), "doc_id", "text", one)
    val queries = Seq((0L, Seq("x", "y")), (1L, Seq("y"))).toDF("q", "terms")
    val calls = Seq[(String, () => DataFrame)](
      "local" -> (() => TextIndex.serve(spark, Seq(one), Seq("x", "y"), 5)),
      "fleet" -> (() => TextIndex.serve(spark, Seq(s0, s1), Seq("x", "y"), 5)),
      "batch" -> (() => TextIndex.serveBatch(spark, Seq(one), queries, "q",
        "terms", 5)))
    for ((name, call) <- calls) {
      val cold = call().collect()
      val (warm, jobs) = JobNames.during(spark)(call().collect())
      assert(warm.toSet == cold.toSet, name)
      assert(jobs.nonEmpty, name)
      assert(JobNames.inference(jobs).isEmpty, s"$name: $jobs")
    }
  }
}
