package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, derived from [[Trace]].
  *
  * Attribution rules:
  *  - a Spark job belongs to the operation span its start time falls in
  *    (one client thread, so spans never overlap); tasks follow their
  *    stage's job, driver-side scan metrics their SQL execution's start;
  *  - a job's module is the innermost `graft.<module>.` frame of its SQL
  *    execution's call site, else of its first stage's call site. AQE runs
  *    most of a serve's jobs from futures whose own call site shows only a
  *    `CompletableFuture` frame; the execution's call site was captured on
  *    the calling thread. A job with no program frame at all (an action
  *    the benchmark runs on a frame the program returned) belongs to the
  *    module of the entry point that was called.
  *
  * Per-operation values are per call, the nearest-rank median over the
  * run's calls;
  * `core_util` and the ratios divide sums over all calls. Module values
  * are per operation call too: the module's jobs (or job seconds) in the
  * run divided by the run's operation calls, so a run that fits one more
  * call in its window does not read as more work. */
object Layers {
  val Modules = Seq("cli", "sources", "etl", "sinks", "export", "operators", "plans")
  private val ModRe = """graft\.(cli|sources|etl|sinks|export|operators|plans)\.""".r

  /** The operations, in BENCHMARK.json order. `probe` is a `serve` call
    * made on the store while the ingest phase decays it. */
  val Ops = Seq("obo2chado", "gff3tochado", "gaf2chado", "store2gff3",
    "chado2gaf", "build", "block_stats", "vocab", "serve", "serve_batch",
    "probe", "append", "delete", "compact")
  private val Full = Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "driver_s" -> "s", "core_util" -> "ratio", "bytes_read" -> "bytes")
  /** Sidecar builds, deletes and probes drop tasks and core_util, so the
    * whole set stays within BENCHMARK.json's 128 per-layer metrics. */
  private val Light = Seq("wall_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "driver_s" -> "s", "bytes_read" -> "bytes")
  private val LightOps = Set("block_stats", "vocab", "delete", "probe")
  private val Writers = Set("obo2chado", "gff3tochado", "gaf2chado",
    "store2gff3", "chado2gaf", "build", "append", "compact")
  private val FileCounted = Set("serve", "serve_batch", "probe", "append",
    "compact")
  private val Shufflers = Set("gff3tochado", "build", "serve_batch",
    "append", "compact")

  /** Every per-layer metric name with its unit, in BENCHMARK.json order. */
  def names: Seq[(String, String)] = {
    val perOp = Ops.flatMap { op =>
      (if (LightOps(op)) Light else Full).map { case (k, u) => s"$op.$k" -> u } ++
        (if (Writers(op)) Seq(s"$op.bytes_written" -> "bytes") else Nil) ++
        (if (FileCounted(op)) Seq(s"$op.files_read" -> "count") else Nil) ++
        (if (Shufflers(op)) Seq(s"$op.shuffle_bytes" -> "bytes") else Nil)
    }
    val mods = Modules.flatMap(m =>
      Seq(s"module.$m.jobs" -> "count", s"module.$m.job_s" -> "s"))
    val ratios = Seq("serve.files_read_ratio" -> "ratio",
      "serve_batch.files_read_ratio" -> "ratio",
      "probe.files_read_ratio" -> "ratio",
      "append.write_amp" -> "ratio", "compact.write_amp" -> "ratio",
      "gff3tochado.novel_ratio" -> "ratio")
    perOp ++ mods ++ ratios
  }

  final case class Call(span: OpSpan, jobs: Seq[(JobRec, String)],
                        tasks: Int, taskS: Double, driverS: Double,
                        selfS: Double, bytesRead: Long, bytesWritten: Long,
                        shuffleBytes: Long, filesRead: Long)

  def moduleOf(j: JobRec, home: String): String = {
    def first(s: String) = ModRe.findFirstMatchIn(s).map(_.group(1))
    j.execId.flatMap(e => Option(Trace.execs.get((j.ctx, e))))
      .flatMap(x => first(x._2))
      .orElse(first(j.stageDetails))
      .getOrElse(home)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every operation call with the Spark work it caused. `home` names the
    * module of an entry point (cli for verbs, operators for TextIndex). */
  def calls(home: String => String): (Seq[Call], Int) = {
    val spans = Trace.spans
    val starts = spans.map(_.startMs).toArray
    def spanAt(ms: Long): Option[OpSpan] = {
      val i = java.util.Arrays.binarySearch(starts, ms)
      val k = if (i >= 0) i else -i - 2
      // ties: the latest span that started at or before ms
      var j = k
      while (j + 1 < starts.length && starts(j + 1) == ms) j += 1
      if (j >= 0 && ms <= spans(j).endMs) Some(spans(j)) else None
    }
    val jobsBySpan = mutable.Map.empty[Int, mutable.ArrayBuffer[JobRec]]
    val jobSpan = mutable.Map.empty[(Int, Int), Int]
    var stray = 0
    Trace.jobs.foreach { j =>
      spanAt(j.startMs) match {
        case Some(s) =>
          jobsBySpan.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
          jobSpan((j.ctx, j.jobId)) = s.id
        case None => stray += 1
      }
    }
    val tasksBySpan = Trace.tasks.groupBy { t =>
      Option(Trace.stageJob.get((t.ctx, t.stageId)))
        .flatMap(job => jobSpan.get((t.ctx, job.intValue))).getOrElse(-1)
    }
    val filesBySpan = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    Trace.driverAccums.forEach { case (ctx, exec, acc, v) =>
      if (Trace.filesReadIds.contains((ctx, acc)))
        Option(Trace.execs.get((ctx, exec))).flatMap(x => spanAt(x._1))
          .foreach(s => filesBySpan(s.id) += v)
    }
    val out = spans.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil).toSeq
      val ts = tasksBySpan.getOrElse(s.id, Nil)
      val wallMs = math.max(1L, s.endMs - s.startMs)
      val busy = covered(ts.map(t => (t.launchMs, t.finishMs)), s.startMs, s.endMs)
      val inJobs = covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      Call(s, js.map(j => (j, moduleOf(j, home(s.name)))), ts.size,
        ts.map(t => t.finishMs - t.launchMs).sum / 1e3,
        s.wallS * (wallMs - busy).toDouble / wallMs,
        s.wallS * (wallMs - inJobs).toDouble / wallMs,
        ts.map(_.bytesRead).sum, ts.map(_.bytesWritten).sum,
        ts.map(_.shuffleBytes).sum, filesBySpan(s.id))
    }
    (out, stray)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Bench.median(xs)

  /** Every per-layer metric; an operation the workload never calls reads
    * 0 (no calls, no work). */
  def metrics(calls: Seq[Call], cores: Int): Map[String, Double] = {
    val by = calls.groupBy(_.span.name)
    val m = mutable.Map.empty[String, Double]
    Ops.foreach { op =>
      val cs = by.getOrElse(op, Nil)
      def med(f: Call => Double) = median(cs.map(f))
      m(s"$op.wall_s") = med(_.span.wallS)
      m(s"$op.jobs") = med(_.jobs.size.toDouble)
      m(s"$op.tasks") = med(_.tasks.toDouble)
      m(s"$op.task_s") = med(_.taskS)
      m(s"$op.driver_s") = med(_.driverS)
      val wall = cs.map(_.span.wallS).sum
      m(s"$op.core_util") = if (wall > 0) cs.map(_.taskS).sum / (wall * cores) else 0.0
      m(s"$op.bytes_read") = med(_.bytesRead.toDouble)
      m(s"$op.bytes_written") = med(_.bytesWritten.toDouble)
      m(s"$op.files_read") = med(_.filesRead.toDouble)
      m(s"$op.shuffle_bytes") = med(_.shuffleBytes.toDouble)
    }
    val n = math.max(1, calls.size)
    val jobs = calls.flatMap(_.jobs)
    Modules.foreach { mod =>
      val mine = jobs.filter(_._2 == mod).map(_._1)
      m(s"module.$mod.jobs") = mine.size.toDouble / n
      m(s"module.$mod.job_s") = mine.map(j => j.endMs - j.startMs).sum / 1e3 / n
    }
    def fileRatio(op: String) = median(by.getOrElse(op, Nil).flatMap { c =>
      c.span.facts.get("data_files").filter(_ > 0).map(c.filesRead / _)
    })
    m("serve.files_read_ratio") = fileRatio("serve")
    m("serve_batch.files_read_ratio") = fileRatio("serve_batch")
    m("probe.files_read_ratio") = fileRatio("probe")
    def sumRatio(op: String, num: Call => Double, fact: String) = {
      val cs = by.getOrElse(op, Nil)
      val den = cs.flatMap(_.span.facts.get(fact)).sum
      if (den > 0) cs.map(num).sum / den else 0.0
    }
    m("append.write_amp") = sumRatio("append", _.bytesWritten.toDouble, "text_bytes")
    m("compact.write_amp") = sumRatio("compact", _.bytesWritten.toDouble, "text_bytes")
    m("gff3tochado.novel_ratio") =
      sumRatio("gff3tochado", _.span.facts.getOrElse("inserted", 0.0), "staged")
    val wanted = names.map(_._1).toSet
    m.toMap.filter { case (k, _) => wanted(k) }
  }

  /** The span file: operation spans (no parent) with their Spark jobs as
    * child spans, each with its self time. */
  def spanJson(calls: Seq[Call], stray: Int, extra: Seq[(String, Json.V)]): Json.V = {
    val items = calls.flatMap { c =>
      val op = Json.Obj(Seq(
        "id" -> Json.Str(s"op${c.span.id}"), "parent" -> Json.Null,
        "name" -> Json.Str(c.span.name),
        "start_ms" -> Json.Num(c.span.startMs), "end_ms" -> Json.Num(c.span.endMs),
        "wall_s" -> Json.Num(c.span.wallS), "self_s" -> Json.Num(c.selfS),
        "ok" -> Json.Bool(c.span.ok), "jobs" -> Json.Num(c.jobs.size),
        "tasks" -> Json.Num(c.tasks), "task_s" -> Json.Num(c.taskS),
        "driver_s" -> Json.Num(c.driverS),
        "bytes_read" -> Json.Num(c.bytesRead),
        "bytes_written" -> Json.Num(c.bytesWritten),
        "shuffle_bytes" -> Json.Num(c.shuffleBytes),
        "files_read" -> Json.Num(c.filesRead),
        "facts" -> Json.Obj(c.span.facts.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.Num(v) })))
      op +: c.jobs.map { case (j, mod) =>
        Json.Obj(Seq(
          "id" -> Json.Str(s"job${j.ctx}.${j.jobId}"),
          "parent" -> Json.Str(s"op${c.span.id}"), "name" -> Json.Str("job"),
          "module" -> Json.Str(mod),
          "start_ms" -> Json.Num(j.startMs), "end_ms" -> Json.Num(j.endMs),
          "self_s" -> Json.Num((j.endMs - j.startMs) / 1e3)))
      }
    }
    Json.Obj(extra ++ Seq("unattributed_jobs" -> Json.Num(stray),
      "spans" -> Json.Arr(items)))
  }
}
