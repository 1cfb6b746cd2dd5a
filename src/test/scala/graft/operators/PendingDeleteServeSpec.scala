package graft.operators

import scala.util.Random

import graft.{JobNames, SparkSpec}
import graft.sinks.SidecarFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serves on a store with appends and pending deletes:
  *   - every serve family equals the same serve on a store rebuilt from
  *     the live docs, with the tombstone ids held on the driver and,
  *     past [[TextIndex.tombstoneInLiteralMaxIds]], read from the
  *     sidecar;
  *   - a tombstoned id cannot be re-appended;
  *   - writers hand their rows to the snapshot memos only when the
  *     sidecar grew by exactly their own file, and a foreign file makes
  *     the next serve re-read;
  *   - a probe after an append and a delete re-derives none of that
  *     held state.
  */
class PendingDeleteServeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_pending_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select($"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Double)].collect().toSeq

  private def batchRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select($"query_id", $"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, -r._4, r._2))

  /** Zipf(1)-shaped docs over 120 words, `w000` the most frequent. */
  private def zipf(from: Long, until: Long, seed: Int): Seq[(Long, String)] = {
    val cdf = (1 to 120).map(1.0 / _).scanLeft(0.0)(_ + _).tail
    val rnd = new Random(seed)
    (from until until).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(20)) {
        val u = rnd.nextDouble() * cdf.last
        f"w${cdf.indexWhere(_ >= u)}%03d"
      }.mkString(" "))
    }
  }

  private val base = zipf(0, 120, 1)
  private val batch1 = zipf(120, 160, 2)
  private val batch2 = zipf(160, 200, 3)
  private val firstDeletes = Seq(3L, 17L, 44L, 125L, 131L, 999L)
  private val secondDeletes = Seq(17L, 60L, 170L, 188L, 99L)
  private val dead = (firstDeletes ++ secondDeletes).toSet - 999L
  private val live = (base ++ batch1 ++ batch2).filterNot(d => dead(d._1))

  private val queries = Seq(Seq("w000"), Seq("w001", "w007"),
    Seq("w003", "w020", "w045"))

  /** A store built, opted into block-max, appended twice and deleted
    * from twice — `shard` of 2 holds the docs with that id parity. */
  private def decayed(dir: String, shard: Option[Int] = None): Unit = {
    def mine(ds: Seq[(Long, String)]) =
      ds.filter(d => shard.forall(_ == d._1 % 2)).toDF("doc_id", "text")
    def ids(is: Seq[Long]) = is.filter(i => shard.forall(_ == i % 2))
      .toDF("id")
    TextIndex.build(mine(base), "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(mine(batch1), "doc_id", "text", dir)
    TextIndex.delete(spark, dir, ids(firstDeletes), "id")
    TextIndex.append(mine(batch2), "doc_id", "text", dir)
    TextIndex.delete(spark, dir, ids(secondDeletes), "id")
  }

  /** The store a rebuild from the live docs gives. */
  private lazy val clean: String = {
    val dir = tmp("clean")
    TextIndex.build(live.toDF("doc_id", "text"), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    dir
  }

  /** Every serve family on `dir` (and on the fleet `shards`) equals the
    * unpruned serve of the same scorer on [[clean]]. */
  private def assertServesEqual(dir: String, shards: Seq[String],
                                ks: Seq[Int]): Unit = {
    for (q <- queries; k <- ks) {
      val ctx = s"terms=$q k=$k"
      val bm25 = rows(TextIndex.topK(spark, clean, q, k))
      val lm = rows(TextIndex.lmTopK(spark, clean, q, k))
      assert(rows(TextIndex.topK(spark, dir, q, k)) == bm25, ctx)
      assert(rows(TextIndex.lmTopK(spark, dir, q, k)) == lm, ctx)
      assert(rows(TextIndex.topKPruned(spark, dir, q, k)) == bm25, ctx)
      assert(!TextIndex.lastPruneStats.get.delegated, ctx)
      assert(rows(TextIndex.lmTopKPruned(spark, dir, q, k)) == lm, ctx)
      for ((scorer, want) <- Seq("bm25" -> bm25, "lm" -> lm)) {
        assert(rows(TextIndex.serve(spark, Seq(dir), q, k, scorer)) == want,
          s"$ctx $scorer")
        assert(rows(TextIndex.serve(spark, shards, q, k, scorer)) == want,
          s"$ctx $scorer fleet")
      }
    }
    val qf = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("qid", "terms")
    assert(batchRows(TextIndex.topKBatch(spark, dir, qf, "qid", "terms", 5)) ==
      batchRows(TextIndex.topKBatch(spark, clean, qf, "qid", "terms", 5)))
  }

  private def assertReappendRefused(dir: String): Unit = {
    val e = intercept[IllegalArgumentException](TextIndex.append(
      Seq((200L, "w000"), (44L, "w001 w002")).toDF("doc_id", "text"),
      "doc_id", "text", dir))
    assert(e.getMessage.contains("tombstoned"))
  }

  test("with pending deletes after two appends, every serve equals the " +
      "serve on a store rebuilt from the live docs") {
    val dir = tmp("one")
    decayed(dir)
    val shards = Seq(0, 1).map { i =>
      val d = tmp(s"shard$i"); decayed(d, Some(i)); d
    }
    val snap = TextIndex.tombSnapshot(spark, dir)
    assert(snap.n == dead.size.toLong)
    assert(snap.ids.map(_.toSet) == Some(dead.map(x => x: Any)))
    assertServesEqual(dir, shards, Seq(1, 5))
    assertReappendRefused(dir)
  }

  test("past the literal bound the serves read the tombstone sidecar " +
      "and still equal the rebuilt store") {
    val saved = TextIndex.tombstoneInLiteralMaxIds
    TextIndex.tombstoneInLiteralMaxIds = 3
    try {
      val dir = tmp("wide")
      decayed(dir)
      val shards = Seq(0, 1).map { i =>
        val d = tmp(s"wshard$i"); decayed(d, Some(i)); d
      }
      val snap = TextIndex.tombSnapshot(spark, dir)
      assert(snap.n == dead.size.toLong && snap.ids.isEmpty)
      assertServesEqual(dir, shards, Seq(5))
      assertReappendRefused(dir)
    } finally TextIndex.tombstoneInLiteralMaxIds = saved
  }

  test("the write-through guard seeds only on exactly this call's files") {
    val before = Seq(("part-a.parquet", 10L, 1L), ("_SUCCESS", 0L, 1L),
      (".part-a.parquet.crc", 8L, 1L))
    val grown = Seq(("part-a.parquet", 10L, 1L), ("_SUCCESS", 0L, 2L),
      (".part-a.parquet.crc", 8L, 1L), ("part-b.parquet", 12L, 2L),
      (".part-b.parquet.crc", 8L, 2L))
    // only this call's file is new (bookkeeping entries changed too)
    assert(SidecarFold.grewBy(before, grown, 1))
    // the first write into a sidecar that did not exist
    assert(SidecarFold.grewBy(Nil, grown.drop(3), 1))
    // a foreign writer's file landed alongside
    assert(!SidecarFold.grewBy(before, grown :+ (("part-c.parquet", 9L, 2L)), 1))
    // a fold swapped every file for one
    assert(!SidecarFold.grewBy(before,
      Seq(("part-f.parquet", 22L, 3L), ("_SUCCESS", 0L, 3L)), 1))
    // a file rewritten in place
    assert(!SidecarFold.grewBy(before,
      Seq(("part-a.parquet", 11L, 2L), ("part-b.parquet", 12L, 2L)), 1))
  }

  test("a stats row and a tombstone file dropped in after a write make " +
      "the next serve re-read") {
    val dir = tmp("foreign")
    decayed(dir)
    val q = Seq("w001", "w007")
    // warm: every memo holds this process's own writes
    val top = rows(TextIndex.serve(spark, Seq(dir), q, 5)).head._1
    val dl = spark.read.parquet(s"$dir/_doclen").filter($"doc_id" === top)
      .select($"dl").as[Long].head()
    Seq((7L, 3L, 40L, 4)).toDF("bid", "n", "sdl", "nbuckets")
      .withColumn("tf_bits", lit(null).cast("array<bigint>"))
      .withColumn("df_sketch", lit(null).cast("array<bigint>"))
      .coalesce(1).write.mode("append").parquet(s"$dir/_corpus_stats")
    Seq((top, dl)).toDF("doc_id", "dl")
      .coalesce(1).write.mode("append").parquet(s"$dir/_tombstones")
    // a copy of the store has no memo entries: a serve on it reads
    // every sidecar afresh
    val copy = tmp("foreign_copy")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir),
      fs, new org.apache.hadoop.fs.Path(copy), false, conf)
    assert(TextIndex.readStats(spark, dir) == TextIndex.readStats(spark, copy))
    for (scorer <- Seq("bm25", "lm"); k <- Seq(3, 10)) {
      val got = rows(TextIndex.serve(spark, Seq(dir), q, k, scorer))
      assert(!got.exists(_._1 == top), s"$scorer k=$k")
      assert(got == rows(TextIndex.serve(spark, Seq(copy), q, k, scorer)),
        s"$scorer k=$k")
    }
  }

  test("a probe after an append and a delete re-derives no held state") {
    val dir = tmp("probe")
    TextIndex.build(base.toDF("doc_id", "text"), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.buildBlockStats(spark, dir)
    val q = Seq("w000", "w004")
    TextIndex.serve(spark, Seq(dir), q, 10).collect()
    TextIndex.append(batch1.toDF("doc_id", "text"), "doc_id", "text", dir)
    TextIndex.delete(spark, dir, firstDeletes.toDF("id"), "id")
    val (_, jobs) = JobNames.during(spark, sites = true) {
      TextIndex.serve(spark, Seq(dir), q, 10).collect()
    }
    assert(TextIndex.lastServeRoute.contains("topKPruned"))
    val held = Seq("tombSnapshot", "collectBounded", "statsSnapshot",
      "loadMultiSidecarRows", "capsAndFloor")
    assert(!jobs.keys.exists(n => held.exists(n.contains)), jobs)
    assert(jobs.filter(_._1.contains("readBlockRows")).values.sum <= 1, jobs)
  }
}
