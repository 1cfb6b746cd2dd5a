package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.TextIndex
import graft.sinks.SkippingStore

/** `text`: the TextIndex store, read and then written, in one process with
  * one client in a closed loop.
  *
  * Set-up builds one store and a 4-shard fleet of the same Zipf corpus,
  * with the block-max sidecar the pruned routes read (and vocab on the one
  * store, which appends extend), then warms each serve route once.
  *
  * The serve phase runs whole passes of a fixed schedule through the front
  * doors `TextIndex.serve` and `serveBatch`: BM25 and LM single queries on
  * the one store, a BM25 single on the fleet, a BM25 batch of 16 on the one
  * store, with query terms from the head, torso and tail of the Zipf ranks
  * in turn. ROADMAP items 2-3 (one ranking core, engine-side pruning,
  * routing by cost) live on this path.
  *
  * The ingest phase then runs whole periods on the same one store: two
  * steps of append a batch, delete live ids, one BM25 probe on the
  * decaying store; then compact.
  * Appends decay the store into wide-zoned files and pending tombstones
  * change the serve route, so a serve gain paid for with append or sidecar
  * work shows as a loss here. */
object TextBench {
  import Bench._

  val K = 10
  val Buckets = 8
  val BatchSize = 16

  final case class Cell(batch: Boolean, fleet: Boolean, scorer: String)

  private val LocalBm25 = Cell(batch = false, fleet = false, "bm25")
  private val LocalLm = Cell(batch = false, fleet = false, "lm")
  private val FleetBm25 = Cell(batch = false, fleet = true, "bm25")
  private val BatchBm25 = Cell(batch = true, fleet = false, "bm25")

  /** Before timing: every route of the schedule once, so the measured
    * calls are warm (a route's first call runs about 1.5x its later ones). */
  val WarmUp = Seq(LocalBm25, LocalLm, FleetBm25, BatchBm25)
  /** One pass: four local singles, one fleet single, one batch. A fleet
    * single costs about three local ones and a batch about four; nearest-
    * rank p50 of the five singles falls on a local one, p90 on the fleet. */
  val Schedule = Seq(LocalBm25, LocalLm, FleetBm25, BatchBm25, LocalLm, LocalBm25)
  /** Ingest steps per compact. The first step's append, delete and probe
    * are their paths' first calls in the process; nearest-rank p50 of two
    * falls on the faster, usually the warm second one. */
  val StepsPerCompact = 2

  final case class Step(batch: Seq[(Long, String)], deletes: Seq[Long],
                        query: Seq[String])

  def steps(path: String): Seq[Step] = {
    val lines = readLines(path)
    val out = mutable.ArrayBuffer.empty[Step]
    var i = 0
    while (i < lines.size) {
      val n = lines(i).split("\t")(1).toInt
      val batch = lines.slice(i + 1, i + 1 + n).map { l =>
        val j = l.indexOf('\t'); (l.take(j).toLong, l.drop(j + 1))
      }
      val dels = lines(i + 1 + n).split("\t")(1).split(",").map(_.toLong).toSeq
      val q = lines(i + 2 + n).split("\t")(1).split(" ").toSeq
      out += Step(batch, dels, q)
      i += n + 3
    }
    out.toSeq
  }

  def loadReference(path: String): Reference = {
    val ref = new Reference
    readLines(path).foreach { l =>
      val i = l.indexOf('\t')
      ref.add(l.take(i).toLong, l.drop(i + 1))
    }
    ref
  }

  def dataFiles(spark: SparkSession, dirs: Seq[String]): Double =
    dirs.map(d => SkippingStore.listDataFileRelPaths(spark, d).size).sum.toDouble

  def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  /** Build a store with its block-max sidecar and, when asked, vocab. */
  def buildStore(spark: SparkSession, docs: DataFrame, dir: String,
                 vocab: Boolean): Unit = {
    Trace.op("build")(TextIndex.build(docs, "doc_id", "text", dir, nBuckets = Buckets))
    Trace.op("block_stats")(TextIndex.buildBlockStats(spark, dir))
    if (vocab) Trace.op("vocab")(TextIndex.buildVocab(spark, dir))
  }

  def run(a: Args, t0: Long): Outcome = {
    val spark = session()
    import spark.implicits._
    val corpusPath = new File(a.in, "corpus.tsv").getPath
    val ref = loadReference(corpusPath)
    val docs = corpus(spark, corpusPath)
    val one = new File(a.work, "store").getPath
    val fleet = (0 until 4).map(i => new File(a.work, s"shard$i").getPath)
    val t = new Tally
    t.attempt("build one store")(buildStore(spark, docs, one, vocab = true))
      .foreach(_ => t.ok())
    // shards carry no vocab: no serve reads it, and nothing appends to them
    fleet.zipWithIndex.foreach { case (d, i) =>
      t.attempt(s"build shard $i")(buildStore(spark,
        docs.filter(col("doc_id") % 4 === i), d, vocab = false)).foreach(_ => t.ok())
    }
    val files = Map(false -> dataFiles(spark, Seq(one)), true -> dataFiles(spark, fleet))
    val queries = readLines(new File(a.in, "queries.tsv").getPath)
      .map(_.split("\t")(1).split(" ").toSeq)
    var qi = 0
    def next(): Seq[String] = { val q = queries(qi % queries.size); qi += 1; q }
    def ms(s: Long) = (System.nanoTime() - s) / 1e6

    /** One ranked single-query serve, timed with the collect that consumes
      * it; the answer is checked against `ref`. */
    def serveOnce(op: String, dirs: Seq[String], terms: Seq[String],
                  scorer: String, files: Double): Option[Double] = {
      val s = System.nanoTime()
      t.attempt(s"$op $scorer ${dirs.size} store(s) [${terms.mkString(" ")}]") {
        Trace.op(op, Map("data_files" -> files)) {
          TextIndex.serve(spark, dirs, terms, K, scorer).collect()
        }
      }.map { rows =>
        val took = ms(s)
        Reference.diff(hits(rows), ref.topK(terms, K, scorer)) match {
          case None => t.ok()
          case Some(d) => t.bad(s"$op $scorer [${terms.mkString(" ")}]: $d")
        }
        took
      }
    }

    val singles, batches = mutable.ArrayBuffer.empty[Double]
    var answered = 0
    def cell(c: Cell): Unit = {
      val dirs = if (c.fleet) fleet else Seq(one)
      if (!c.batch)
        serveOnce("serve", dirs, next(), c.scorer, files(c.fleet)).foreach { took =>
          singles += took; answered += 1
        }
      else {
        val qs = Seq.fill(BatchSize)(next())
        val frame = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "terms")
        val s = System.nanoTime()
        t.attempt(s"serve_batch ${c.scorer}") {
          Trace.op("serve_batch", Map("data_files" -> files(c.fleet))) {
            TextIndex.serveBatch(spark, dirs, frame, "qid", "terms", K, c.scorer).collect()
          }
        }.foreach { rows =>
          batches += ms(s)
          answered += BatchSize
          val got = rows.groupBy(_.getAs[Long]("query_id"))
          val bad = qs.indices.flatMap { i =>
            val mine = got.getOrElse(i.toLong, Array.empty[Row])
              .sortBy(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
            Reference.diff(hits(mine), ref.topK(qs(i), K, c.scorer))
              .map(d => s"query $i [${qs(i).mkString(" ")}]: $d")
          }
          if (bad.isEmpty) t.ok() else t.bad(s"serve_batch ${c.scorer}: ${bad.head}")
        }
      }
    }

    // warm-up: answers checked, latencies not kept
    WarmUp.foreach(cell)
    singles.clear(); batches.clear(); answered = 0
    val setupS = elapsed(t0)

    // each phase runs whole units, at least half the window each, so every
    // run measures the same mix
    var w0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || elapsed(w0) < a.seconds / 2) {
      Schedule.foreach(cell); passes += 1
    }
    val serveS = (singles.sum + batches.sum) / 1e3

    val plan = steps(new File(a.in, "steps.tsv").getPath)
    val appends, deletes, compacts, probes = mutable.ArrayBuffer.empty[Double]
    var appended = 0L
    def step(i: Int): Unit = {
      val st = plan(i)
      val bytes = st.batch.map(_._2.getBytes("UTF-8").length.toDouble).sum
      val frame = st.batch.toDF("doc_id", "text")
      var s = System.nanoTime()
      t.attempt(s"append step $i") {
        Trace.op("append", Map("text_bytes" -> bytes)) {
          TextIndex.append(frame, "doc_id", "text", one)
        }
      }.foreach { _ =>
        appends += ms(s); appended += st.batch.size
        st.batch.foreach { case (id, text) => ref.add(id, text) }
        t.ok()
      }
      val ids = st.deletes.toDF("id")
      s = System.nanoTime()
      t.attempt(s"delete step $i") {
        Trace.op("delete")(TextIndex.delete(spark, one, ids, "id"))
      }.foreach { n =>
        deletes += ms(s)
        val want = ref.delete(st.deletes)
        if (n == want) t.ok() else t.bad(s"delete step $i removed $n, expected $want")
      }
      serveOnce("probe", Seq(one), st.query, "bm25", dataFiles(spark, Seq(one)))
        .foreach(probes += _)
      if ((i + 1) % StepsPerCompact == 0) {
        s = System.nanoTime()
        t.attempt(s"compact after step $i") {
          Trace.op("compact", Map("text_bytes" -> ref.textBytes.toDouble)) {
            TextIndex.compact(spark, one)
          }
        }.foreach { _ => compacts += ms(s) / 1e3; t.ok() }
      }
    }
    w0 = System.nanoTime()
    var i = 0
    while (i % StepsPerCompact != 0 || i == 0 || elapsed(w0) < a.seconds / 2) {
      require(i < plan.size, s"the generator wrote only ${plan.size} steps")
      step(i); i += 1
    }
    spark.stop()
    // per pass of the serve schedule and per ingest period (steps and
    // their compact), so a run with more of either stays comparable
    val periods = i / StepsPerCompact
    val writeS = (appends.sum + deletes.sum) / 1e3 / periods + compacts.sum / periods
    val readS = serveS / passes + probes.sum / 1e3 / periods
    Outcome(common(setupS, writeS, readS), Seq(
      ("query_p50_ms", median(singles.toSeq), "ms"),
      ("query_p90_ms", percentile(singles.toSeq, 90), "ms"),
      ("batch_p50_ms", median(batches.toSeq), "ms"),
      ("serve_qps", answered / serveS, "1/s"),
      ("append_p50_ms", median(appends.toSeq), "ms"),
      ("delete_p50_ms", median(deletes.toSeq), "ms"),
      ("compact_s", median(compacts.toSeq), "s"),
      ("ingest_docs_per_s", appended / (appends.sum / 1e3), "1/s"),
      ("ingest_query_p50_ms", median(probes.toSeq), "ms")),
      t.attempted, t.failed,
      Seq(s"text: ${singles.size} single queries and ${batches.size} batches of " +
        s"$BatchSize in $passes pass(es); $i ingest step(s), ${ref.size} live docs; " +
        s"${t.attempted} checked operations, ${t.failed} failed") ++ t.problems)
  }
}
