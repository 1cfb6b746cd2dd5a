package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.cli.GraftCli

/** One benchmark run of one workload, in one process, with one client
  * thread: set up, run the workload's loop for `--seconds`, check every
  * answer outside the timed spans, and write the result JSON (and, in a
  * traced run, the span file). `perfbench/run.py` builds the classes,
  * generates the inputs and launches this. */
object Bench {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, in: String, work: String,
                        result: String, spans: String)

  /** What a workload hands back: the end-to-end metrics every workload
    * reports (name -> value, unit), its own finer figures (logged and kept
    * in the span file, not in the result), operations attempted and
    * failed, and notes for the log. */
  final case class Outcome(metrics: Seq[(String, Double, String)],
                           details: Seq[(String, Double, String)],
                           attempted: Int, failed: Int, notes: Seq[String])

  /** The end-to-end metrics, common to every workload: set-up, and the
    * seconds of the timed calls of one pass of the workload's fixed mix,
    * in all and split into the calls that write and those that read. */
  def common(setupS: Double, writeS: Double, readS: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setupS, "s"), ("work_s", writeS + readS, "s"),
      ("write_s", writeS, "s"), ("read_s", readS, "s"))

  /** Counts operations and the ones that failed or answered wrong. */
  final class Tally {
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def ok(): Unit = attempted += 1
    def bad(what: String): Unit = {
      attempted += 1; failed += 1
      if (problems.size < 20) problems += what
    }
    /** Run `f` as one operation; a throw counts as a failure. Returns
      * None on a throw. */
    def attempt[T](what: String)(f: => T): Option[T] =
      try Some(f)
      catch { case e: Exception =>
        bad(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("in"), kv("work"), kv("result"), kv("spans"))
    val t0 = System.nanoTime()
    val out = a.workload match {
      case "chado-etl" => Etl.run(a, t0)
      case "text" => TextBench.run(a, t0)
    }
    // every SparkContext is stopped by now, so the listener buses drained
    out.notes.foreach(n => println(s"[perfbench] $n"))
    println("[perfbench] details: " + out.details.map { case (k, v, u) =>
      f"$k $v%.4g $u" }.mkString(", "))
    val metrics =
      if (!a.trace) out.metrics.map { case (k, v, u) => k -> (v, u) }
      else {
        val home = (op: String) =>
          if (Etl.Verbs.contains(op)) "cli" else "operators"
        val (calls, stray) = Layers.calls(home)
        val wall = (System.nanoTime() - t0) / 1e9
        val listenerS = Trace.listenerNs.get / 1e9
        val units = Layers.names.toMap
        val values = Layers.metrics(calls, Cores)
        println(f"[perfbench] tracing: listener handlers took $listenerS%.3f s " +
          f"of $wall%.1f s (${100 * listenerS / wall}%.2f%%), " +
          s"${Trace.contexts} SparkContexts, $stray jobs outside any operation")
        Files.writeString(Paths.get(a.spans), Json.render(Layers.spanJson(calls,
          stray, Seq(
            "workload" -> Json.Str(a.workload), "seed" -> Json.Num(a.seed),
            "listener_s" -> Json.Num(listenerS), "run_s" -> Json.Num(wall),
            "end_to_end" -> Json.Obj((out.metrics ++ out.details).map { case (k, v, _) =>
              k -> Json.Num(v) })))))
        Layers.names.map { case (k, _) => k -> (values(k), units(k)) }
      }
    val res = Json.Obj(Seq(
      "correct" -> Json.Bool(out.failed == 0),
      "attempted" -> Json.Num(out.attempted),
      "failed" -> Json.Num(out.failed),
      "metrics" -> Json.Obj(metrics.map { case (k, (v, u)) =>
        k -> Json.Obj(Seq("value" -> Json.Num(v), "unit" -> Json.Str(u)))
      })))
    Files.writeString(Paths.get(a.result), Json.render(res))
  }

  // ------------------------------------------------------------ helpers

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** Lines of the text part files a partitioned text write left. */
  def partLines(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString).flatMap(p => Files.readAllLines(p).asScala)
    finally s.close()
  }

  def expected(in: String): Map[String, Any] =
    Json.parse(Files.readString(Paths.get(in, "expected.json")))
      .asInstanceOf[Map[String, Any]]

  /** A local session with GraftSession.local's settings on all cores. */
  def session(): SparkSession = GraftSession.local(Cores)

  def corpus(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("doc_id LONG, text STRING").option("sep", "\t").csv(path)
}

/** `chado-etl`: one genome release cycle through the in-process CLI verbs,
  * repeated on fresh stores until the window closes. Each verb starts and
  * stops its own SparkContext, as it does from the command line. */
object Etl {
  import Bench._

  val Verbs = Seq("obo2chado", "gff3tochado", "gaf2chado", "store2gff3",
    "chado2gaf")

  private val CountLine = """^\s*(\w+)\s+(-?\d+)\s*$""".r
  private val Written = """.*\((\d+) (?:feature lines|annotation rows)\)\s*$""".r

  /** Run one verb with its printed lines captured (they carry the
    * insert counts the checks compare). */
  private def verb(name: String, args: String*)(facts: Map[String, Double] = Map.empty): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Trace.op(name, facts) {
      Console.withOut(ps) { GraftCli.main((name +: args).toArray) }
    }
    ps.flush()
    buf.toString("UTF-8")
  }

  private def counts(out: String): Map[String, Long] =
    out.linesIterator.collect { case CountLine(k, v) => k -> v.toLong }.toMap

  private def checkCounts(t: Tally, what: String, out: String, want: Any): Unit = {
    val got = counts(out)
    val bad = want.asInstanceOf[Map[String, Double]].toSeq.sortBy(_._1).collect {
      case (k, v) if !got.get(k).contains(v.toLong) => s"$k ${got.get(k)} != ${v.toLong}"
    }
    if (bad.isEmpty) t.ok() else t.bad(s"$what counts: ${bad.mkString("; ")}")
  }

  /** Session start and warm-up: one session parses each input with the
    * program's sources, so JIT and code generation for the parsers and
    * Spark's own paths do not land in the first timed verb. A full
    * release cycle as warm-up would cost as much as the measured one
    * (the cycle is bound by its ~240 jobs, not by its rows). */
  private def warmUp(in: String => String): Unit = {
    val spark = session()
    graft.sources.Obo.terms(spark, in("go_v1.obo")).count()
    spark.read.format("graft.sources.v2.Gff3DataSource")
      .load(in("release_v1.gff3")).count()
    graft.sources.Gaf.read(spark, in("annotations.gaf")).count()
    spark.stop()
  }

  private def written(out: String): Option[Long] =
    out.linesIterator.collectFirst { case Written(n) => n.toLong }

  def run(a: Args, t0: Long): Outcome = {
    val exp = expected(a.in)
    val in = (f: String) => new File(a.in, f).getPath
    val wantFeatures = readLines(in("expected_features.tsv")).sorted
    val wantAnnots = readLines(in("expected_annotations.tsv")).sorted
    val records = exp("records").asInstanceOf[Double]
    val t = new Tally
    val load, update, export, rate, write, read = mutable.ArrayBuffer.empty[Double]

    def cycle(k: Int): Unit = {
      val dir = Paths.get(a.work, s"cycle$k")
      val store = dir.resolve("store").toString
      val gffOut = dir.resolve("export_gff3").toString
      val gafOut = dir.resolve("export_gaf").toString
      val outs = mutable.LinkedHashMap.empty[String, String]
      val times = mutable.ArrayBuffer.empty[Double]
      def step(key: String, name: String, args: String*)(facts: Map[String, Double] = Map.empty): Unit = {
        val s = System.nanoTime()
        t.attempt(key)(verb(name, args: _*)(facts)).foreach(outs(key) = _)
        times += (System.nanoTime() - s) / 1e9
      }
      val gv = (v: String) => Map(
        "staged" -> exp(s"gff3_staged_$v").asInstanceOf[Double],
        "inserted" -> exp(s"gff3_$v").asInstanceOf[Map[String, Double]].values.sum)
      step("obo_v1", "obo2chado", in("go_v1.obo"), store)()
      step("gff3_v1", "gff3tochado", in("release_v1.gff3"), store)(gv("v1"))
      step("gaf_load", "gaf2chado", in("annotations.gaf"), store)()
      step("gff3_v2", "gff3tochado", in("release_v2.gff3"), store)(gv("v2"))
      step("obo_v2", "obo2chado", in("go_v2.obo"), store)()
      step("gff3_export", "store2gff3", store, gffOut)()
      step("gaf_export", "chado2gaf", store, gafOut)()
      load += times.take(3).sum
      update += times.slice(3, 5).sum
      export += times.slice(5, 7).sum
      rate += records / times.take(5).sum
      write += times.take(5).sum
      read += times.slice(5, 7).sum

      // checks, outside the timed verbs
      Seq("obo_v1", "gff3_v1", "gaf_load", "gff3_v2", "obo_v2").foreach { key =>
        outs.get(key).foreach(o => checkCounts(t, key, o, exp(key)))
      }
      outs.get("gff3_export").foreach { o =>
        val lines = partLines(gffOut)
        val regions = lines.filter(_.startsWith("##sequence-region")).toSet
        val wantRegions = exp("sequence_regions").asInstanceOf[Map[String, Double]]
          .map { case (c, n) => s"##sequence-region $c 1 ${n.toLong}" }.toSet
        val got = lines.filterNot(_.startsWith("#")).map(Gff3Line.key).sorted
        if (written(o).contains(wantFeatures.size.toLong) && got == wantFeatures &&
            regions == wantRegions) t.ok()
        else t.bad(s"store2gff3 re-parse: ${got.size} lines vs ${wantFeatures.size}, " +
          s"first difference ${got.zip(wantFeatures).find(p => p._1 != p._2)}, " +
          s"regions ok ${regions == wantRegions}")
      }
      outs.get("gaf_export").foreach { o =>
        val got = partLines(gafOut).filterNot(_.startsWith("!")).map { l =>
          val c = l.split("\t", -1)
          Seq(c(1), c(4), c(5), c(6)).mkString("\t")
        }.sorted
        if (written(o).contains(wantAnnots.size.toLong) && got == wantAnnots) t.ok()
        else t.bad(s"chado2gaf re-parse: ${got.size} rows vs ${wantAnnots.size}")
      }
      deleteTree(dir)
    }

    warmUp(in)
    val setupS = elapsed(t0)
    val w0 = System.nanoTime()
    var k = 1
    while (k == 1 || elapsed(w0) < a.seconds) { cycle(k); k += 1 }
    Outcome(common(setupS, median(write.toSeq), median(read.toSeq)), Seq(
      ("load_s", median(load.toSeq), "s"),
      ("update_s", median(update.toSeq), "s"),
      ("export_s", median(export.toSeq), "s"),
      ("etl_records_per_s", median(rate.toSeq), "1/s")),
      t.attempted, t.failed,
      Seq(s"chado-etl: ${k - 1} measured cycles, " +
        s"${t.attempted} checked operations, ${t.failed} failed") ++ t.problems)
  }
}

/** The fields of an exported GFF3 feature line that the generator's
  * expectation lists: seqid, type, start, end, strand, phase, ID, Name
  * and Parent. */
object Gff3Line {
  def key(line: String): String = {
    val c = line.split("\t", -1)
    val attrs = c(8).split(";").map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    Seq(c(0), c(2), c(3), c(4), c(6), c(7), attrs.getOrElse("ID", ""),
      attrs.getOrElse("Name", ""), attrs.getOrElse("Parent", "")).mkString("\t")
  }
}
