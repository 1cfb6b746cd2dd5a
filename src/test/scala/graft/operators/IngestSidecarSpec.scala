package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{JobNames, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** The ingest's sidecar stage, whose zone, `_doclen`, `_blockmax` and
  * `_vocab` branches run concurrently before the `_corpus_stats` row:
  *   - after a build and two appends, on bag and positional stores,
  *     every sidecar equals its from-scratch rebuild (`buildBlockStats`,
  *     `buildVocab`) and a per-document reference;
  *   - a failing branch fails the append with no stats row landed, and
  *     the streaming replay heal restores what a clean append writes;
  *   - the vocab extension counts the written files instead of
  *     re-tokenizing the batch, and `compact` reads the vocab's bid
  *     high-water mark from the memo the writers keep. */
class IngestSidecarSpec extends SparkSpec {

  private def tmpStore(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_isc_$tag")
    d.toFile.deleteOnExit()
    d.toString + "/store"
  }

  /** Docs with null text, empty text and leading / trailing whitespace
    * (the `""` token) among plain ones. */
  private def docs(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map { i =>
      val words = (0 to i % 9).map(j => s"t${(i * 31 + j * 17) % 61}")
        .mkString(" ")
      val text =
        if (i % 97 == 13) null
        else if (i % 89 == 7) ""
        else if (i % 11 == 0) words + " "
        else if (i % 13 == 0) " " + words
        else words
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  private def doclenRows(dir: String): Seq[String] = sorted(
    spark.read.parquet(s"$dir/_doclen")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")).collect())

  private def blockRows(dir: String): Seq[String] =
    sorted(spark.read.parquet(s"$dir/_blockmax").distinct().collect())

  private def vocabRows(dir: String): Seq[String] = sorted(
    spark.read.parquet(s"$dir/_vocab")
      .groupBy(col("w")).agg(sum(col("df")).cast("long")).collect())

  private def statsRows(dir: String): Seq[Row] =
    spark.read.option("mergeSchema", "true").parquet(s"$dir/_corpus_stats")
      .select(col("bid"), col("n"), col("sdl"), col("nbuckets"),
        col("tf_bits"), col("df_sketch"))
      .collect().toSeq

  /** Tokens per doc, as the store's whitespace tokenizer splits them. */
  private def tokens(d: DataFrame): Seq[(Long, Option[Array[String]])] =
    d.collect().toSeq.map(r => (r.getLong(0),
      Option(r.getString(1)).map(_.split("\\s+", -1))))

  private def refDoclen(d: DataFrame): Seq[String] =
    tokens(d).map { case (id, t) =>
      Row(id, t.map(_.length.toLong).orNull).toString }.sorted

  private def refVocab(d: DataFrame): Seq[String] =
    tokens(d).flatMap(_._2.toSeq.flatMap(_.distinct)).groupBy(identity)
      .map { case (w, ws) => Row(w, ws.size.toLong).toString }.toSeq.sorted

  /** One batch's stats row computed doc by doc: count, token sum, the
    * term-presence bits of its terms and its per-doc df sketch. */
  private def refStats(d: DataFrame, bid: Long, nb: Int,
                       bitWords: Int, cells: Int) = {
    val toks = tokens(d)
    val bits = new Array[Long](bitWords)
    val sketch = new Array[Long](cells)
    toks.flatMap(_._2).foreach { t =>
      t.distinct.foreach { w =>
        TextIndex.termProbesLocal(w).foreach(p =>
          bits((p / 64).toInt) |= 1L << (p % 64).toInt)
        TextIndex.dfSketchProbesLocal(w).foreach(p => sketch(p) += 1)
      }
    }
    (bid, toks.size.toLong, toks.flatMap(_._2).map(_.length.toLong).sum, nb,
      bits.toSeq, sketch.toSeq)
  }

  private def statsTuples(dir: String) = statsRows(dir).map(r =>
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
      r.getSeq[Long](4), r.getSeq[Long](5)))

  for (positional <- Seq(false, true)) {
    val kind = if (positional) "positional" else "bag"
    test(s"$kind: build + two appends land every sidecar exactly") {
      val dir = tmpStore(kind)
      val batches = Seq(docs(0, 300), docs(300, 340), docs(340, 380))
      if (positional)
        TextIndex.buildPositional(batches(0), "doc_id", "text", dir,
          nBuckets = 4, filesPerBucket = 2)
      else TextIndex.build(batches(0), "doc_id", "text", dir, nBuckets = 4,
        filesPerBucket = 2)
      TextIndex.buildBlockStats(spark, dir)
      TextIndex.buildVocab(spark, dir)
      batches.tail.foreach { b =>
        if (positional)
          TextIndex.appendPositional(b, "doc_id", "text", dir,
            filesPerBucket = 2)
        else TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 2)
      }
      val all = batches.reduce(_ union _)
      assert(doclenRows(dir) == refDoclen(all))
      val stats = statsTuples(dir)
      val (bitWords, cells) = (stats.head._5.size, stats.head._6.size)
      val order = (t: (Long, Long, Long, Int, Seq[Long], Seq[Long])) =>
        (t._2, t._3, t._5.hashCode)
      assert(stats.sortBy(order) ==
        batches.map(refStats(_, -1L, 4, bitWords, cells)).sortBy(order))
      val blocks = blockRows(dir)
      val vocab = vocabRows(dir)
      assert(vocab == refVocab(all))
      TextIndex.buildBlockStats(spark, dir)
      TextIndex.buildVocab(spark, dir)
      assert(blocks == blockRows(dir),
        "the extended _blockmax must equal its rebuild over the same files")
      assert(vocab == vocabRows(dir),
        "the extended _vocab must equal its rebuild over the same files")
    }
  }

  test("a failing branch lands no stats row; the replay heal restores " +
      "the clean append's sidecars") {
    val (dir, clean) = (tmpStore("fail"), tmpStore("clean"))
    val batches = Seq(docs(0, 300), docs(300, 340), docs(340, 380))
    for (d <- Seq(dir, clean)) {
      TextIndex.build(batches(0), "doc_id", "text", d, nBuckets = 4,
        filesPerBucket = 2, marker = Some(0L))
      TextIndex.buildBlockStats(spark, d)
      TextIndex.buildVocab(spark, d)
      TextIndex.append(batches(1), "doc_id", "text", d, filesPerBucket = 2,
        marker = Some(1L))
    }
    TextIndex.append(batches(2), "doc_id", "text", clean, filesPerBucket = 2,
      marker = Some(2L))
    // a plain file where the committer stages: the vocab branch fails
    val blocker = new java.io.File(s"$dir/_vocab/_temporary")
    assert(blocker.createNewFile())
    intercept[Exception] {
      TextIndex.append(batches(2), "doc_id", "text", dir, filesPerBucket = 2,
        marker = Some(2L))
    }
    blocker.delete()
    assert(statsRows(dir).map(_.getLong(0)).sorted == Seq(0L, 1L),
      "no stats row may land when a sidecar branch fails")
    assert(TextIndex.readStats(spark, dir)._1 == 340L)
    TextIndex.healBatch(batches(2), "doc_id", "text", dir, 2L, nBuckets = 4)
    assert(doclenRows(dir) == doclenRows(clean))
    // the heal re-derives the row from the batch, without a df sketch
    def noSketch(d: String) = statsTuples(d)
      .map(t => (t._1, t._2, t._3, t._4, t._5)).sortBy(_._1)
    assert(noSketch(dir) == noSketch(clean))
    assert(vocabRows(dir) == vocabRows(clean))
    val sc = graft.sinks.SkippingStore.loadMultiSidecar(spark, dir,
      relative = true)
    assert(sc.exists(_.byCol("w").size == graft.sinks.SkippingStore
      .listDataFileRelPaths(spark, dir).size), "heal must re-cover every file")
    val blocks = blockRows(dir)
    TextIndex.buildBlockStats(spark, dir)
    assert(blocks == blockRows(dir))
    val q = Seq("t3", "t17", "t40")
    assert(TextIndex.topK(spark, dir, q, 10).collect().toSeq ==
      TextIndex.topK(spark, clean, q, 10).collect().toSeq)
  }

  test("the vocab extension reads the written files, and compact reads " +
      "the vocab high-water mark from the memo") {
    val dir = tmpStore("jobs")
    TextIndex.build(docs(0, 300), "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.buildVocab(spark, dir)
    // every SQL execution's call site and plan, to see what the vocab
    // extension's jobs scan
    val plans = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add((s.details, s.physicalPlanDescription))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, appendJobs) = try JobNames.during(spark, sites = true) {
      TextIndex.append(docs(300, 340), "doc_id", "text", dir,
        filesPerBucket = 2)
    } finally spark.sparkContext.removeSparkListener(listener)
    val vocabJobs = appendJobs.filter(_._1.contains("maybeExtendVocab"))
    assert(vocabJobs.nonEmpty && vocabJobs.values.sum <= 2, appendJobs)
    val vocabPlans = plans.asScala.toSeq
      .filter(_._1.contains("maybeExtendVocab")).map(_._2)
    assert(vocabPlans.nonEmpty)
    assert(!vocabPlans.exists(_.contains("split(")),
      "the vocab extension must not tokenize the batch")
    assert(vocabRows(dir) == refVocab(docs(0, 340)))
    // compact after an append, then again after the next append: the
    // extension and the compaction's rebuild keep the memo current
    for (round <- 0 until 2) {
      if (round == 1)
        TextIndex.append(docs(340, 380), "doc_id", "text", dir,
          filesPerBucket = 2)
      val (_, jobs) = JobNames.during(spark, sites = true) {
        TextIndex.compact(spark, dir, filesPerBucket = 2)
      }
      assert(!jobs.keys.exists(_.contains("vocabBidHwm")), jobs)
    }
    assert(vocabRows(dir) == refVocab(docs(0, 380)))
  }
}
