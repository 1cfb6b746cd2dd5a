package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // the engine's session shape
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.ui.enabled", "false")
      // A/B knob for the transparent pruning rule's planning overhead
      .config("spark.graft.zoneprune.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ZONEPRUNE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceSidecarListingNoise()
    // warm-up: session/codegen/file-index init lands here, not in q1
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // local-iteration knobs: query subset + repeat-and-take-min (noise
    // floor). Default is min-of-3: this box's background load swings
    // single-shot totals ~2x run-to-run (and min-of-2 did not survive the
    // load spikes either) while per-query minima stay stable, so the
    // published number is the reproducible one. The repeat count is
    // recorded in the output JSON.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = math.max(1,
      sys.env.get("SPARK_GRAFT_REPEAT").flatMap(_.toIntOption).getOrElse(3))
    // A query that throws is recorded as an error, NOT a timing: timing a
    // crashed attempt would rank it among the fastest rows and silently
    // shrink the total (a deleted testdata column must make the bench
    // loudly report n_failed=1, not emit a 60 ms entry).
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // INTERLEAVED suite-level rounds: the whole subset runs once per
    // round and a query's published time is its min ACROSS rounds —
    // repeats of one query never run back-to-back. min-of-N only
    // defends against contention bursts SHORTER than N×(query time);
    // back-to-back repeats let one multi-minute burst poison every
    // sample of the alphabetically adjacent queries (the r11 driver
    // artifact's phantom 13.7x on a query whose same-box floor was
    // flat). Interleaved, a burst costs each query at most one of its
    // N samples.
    val timesAcc = scala.collection.mutable.Map.empty[String, List[Double]]
    // (failed-round count, last message): a query that threw in 1 of N
    // rounds must show n_failed_rounds in the artifact even though its
    // floor comes from the rounds that passed — intermittent failures
    // stay visible in the close artifact, not only in the driver's
    // tail log
    val errAcc = scala.collection.mutable.Map.empty[String, (Int, String)]
    (1 to repeat).foreach { _ =>
      queryList.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          timesAcc(name) =
            ((System.nanoTime() - t0) / 1e9) :: timesAcc.getOrElse(name, Nil)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
            errAcc(name) = (errAcc.get(name).fold(1)(_._1 + 1), msg)
        }
      }
    }
    val attempts = queryList.map { case (name, _) =>
      val times = timesAcc.getOrElse(name, Nil).reverse
      (name, times.minOption, errAcc.get(name), times)
    }
    val results = attempts.collect { case (n, Some(t), _, _) => n -> t }.toMap
    val failed = attempts.collect { case (n, None, err, _) =>
      n -> err.getOrElse((repeat, "error")) }
    // a query that failed SOME repeats but succeeded others keeps its
    // timing yet is surfaced as flaky — not silently laundered clean
    val flaky = attempts.collect { case (n, Some(_), Some(e), _) => n -> e }
    val qs = (results.map { case (k, v) => s"\"" + k + "\":" + v } ++
      failed.map { case (k, (nf, e)) =>
        s"\"" + k + "\":{\"err\":\"" + e + s"\",\"n_failed_rounds\":$nf}" })
      .mkString("{", ",", "}")
    // per-query [min, max] across the repeats: the spread separates a
    // real regression (tight spread, higher floor) from box contention
    // (one repeat 2-3x the min) — tools/bench_diff.py classifies
    // high-spread rows as contended instead of gating on them
    val spreadStr =
      if (repeat <= 1) ""
      else attempts.collect { case (n, Some(_), _, ts) if ts.nonEmpty =>
        s"\"" + n + s"\":[${ts.min},${ts.max}]"
      }.mkString(",\"spread\":{", ",", "}")
    val flakyStr =
      if (flaky.isEmpty) ""
      else flaky.map { case (k, (nf, e)) =>
        s"\"" + k + "\":{\"err\":\"" + e + s"\",\"n_failed_rounds\":$nf}" }
        .mkString(",\"flaky\":{", ",", "}")
    // CONTROL floors: three cheap queries whose families were stable
    // for 10+ rounds — ambient box drift moves them in lockstep with
    // everything else, so a cross-round comparison should normalize
    // per-query ratios by the control ratio before calling anything a
    // regression (tools/bench_diff.py --controls does exactly that;
    // the hand-built adjudication tables this replaces are in
    // SCALE.md §r10-r12)
    // q288_io_control is the I/O-bound control (r16): a pure parquet
    // write+read whose floor moves with disk/page-cache load — the
    // CPU-shaped trio cannot see sustained I/O contention (the r15
    // driver-bench artifact: 39 false regressions, all store-bound)
    val controlNames =
      Seq("q1_agg", "q26_closure", "q97_lm_score", "q288_io_control")
    val controlsStr = {
      val cs = controlNames.flatMap(n => results.get(n).map(n -> _))
      if (cs.isEmpty) ""
      else cs.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(",\"controls\":{", ",", "}")
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // mark subset/min-of-N runs so they can't be mistaken for the
    // published full-bench number
    val mode = (if (only.isDefined) List(s""""subset":${results.size}""") else Nil) ++
      (if (repeat > 1) List(s""""repeat":$repeat""") else Nil) ++
      (if (failed.nonEmpty) List(s""""n_failed":${failed.size}""") else Nil) ++
      (if (flaky.nonEmpty) List(s""""n_flaky":${flaky.size}""") else Nil)
    val modeStr = if (mode.isEmpty) "" else mode.mkString(",", ",", "")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$controlsStr$flakyStr$spreadStr$modeStr}"""
    // The driver captures only the tail of stdout, so the ~4 KB per-query
    // map must not ride on the final line: the full JSON goes to a file,
    // and the last stdout line is a short parseable summary.
    // PER-RUN file, keyed by the core count: the driver benches at two
    // CPU counts and the 8-core scaling run used to overwrite the
    // 32-core run's per-query map before it could be diffed
    // (PERF_r16.per_query was empty for exactly this reason). With the
    // core count in the name both runs' maps survive side by side; the
    // stdout line always names the file this run actually wrote.
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        s"/root/repo/bench_out_c$cpus.json"))
    java.nio.file.Files.write(outFile,
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // legacy fixed-name copy beside the default per-run file, kept for
    // existing tooling (bench_diff et al.); a run that names its own
    // output file writes only that one, so it never overwrites the
    // legacy copy another run left
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      java.nio.file.Files.write(outFile.resolveSibling("bench_out.json"),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // stdout carries ONLY the short summary: the driver tail-captures
    // the LAST 2000 chars of stdout (BENCH_r01-r03: the full per-query
    // map truncated mid-line and failed the driver's parse), so the
    // ~8 KB map must live in the file, never on the line. The controls
    // ride inline — they fit and give the tail a cross-round anchor.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","cpus":$cpus,"queries_file":"$outFile"$controlsStr$modeStr}""")
    spark.stop()
  }
}
