package graft.tools

import graft.GraftSession
import graft.operators.TextIndex
import org.apache.spark.sql.functions.col

/** Per-phase wall-clock attribution for the text-store ingest — the
  * measurement behind SCALE.md's r12 cost table. Replays q222's build
  * and q223's build+append shapes on the given SF dir `repeat` times,
  * reading [[TextIndex.phaseSeconds]] between runs, and prints the
  * MIN per phase across repeats (the contention-robust floor, like the
  * bench). Phases: postings_write (the single corpus pass),
  * zone_index (w-zone sidecar), list_written (file listings),
  * doclen_write (delete-pricing sidecar from the written files),
  * doclen_residual, stats_row, sidecar_folds, tombstone_clash_check.
  *
  * usage: runMain graft.tools.IngestProfile <sfDir> [repeat]
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeat = args.lift(1).flatMap(_.toIntOption).getOrElse(5)
    val spark = GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // warm the file index outside the timings

    def snap(): Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      val m = TextIndex.phaseSeconds.asScala.toMap
        .collect { case (k, v) if k != TextIndex.ObserveMiss =>
          k -> v.doubleValue }
      TextIndex.phaseSeconds.clear()
      m
    }

    def tmp(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_ingprof")
      d.toFile.deleteOnExit()
      d.resolve("store").toString
    }

    def runArm(name: String, body: () => Unit): Unit = {
      val samples = (1 to repeat).map { _ =>
        snap() // drop anything accumulated outside this arm
        val t0 = java.lang.System.nanoTime()
        body()
        val total = (java.lang.System.nanoTime() - t0) / 1e9
        (total, snap())
      }
      val phases = samples.flatMap(_._2.keys).distinct.sorted
      val mins = phases.map(p =>
        p -> samples.map(_._2.getOrElse(p, 0.0)).min)
      val totalMin = samples.map(_._1).min
      val accounted = mins.map(_._2).sum
      println(s"== $name (min of $repeat) total=${f"$totalMin%.2f"}s " +
        s"accounted=${f"$accounted%.2f"}s " +
        s"plan+obs=${f"${totalMin - accounted}%.2f"}s ==")
      mins.foreach { case (p, v) => println(f"  $p%-24s $v%7.2f s") }
    }

    runArm("build (q222 shape)", () => {
      val dir = tmp()
      TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 8,
        filesPerBucket = 2)
    })
    runArm("build 2/3 + append 1/3 (q223 shape)", () => {
      val dir = tmp()
      TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
        "text", dir, nBuckets = 8, filesPerBucket = 2)
      TextIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id",
        "text", dir, filesPerBucket = 2)
    })
    // the unified layout's ingest: position lists + the bag-contract
    // tail-append ride the same single pass — this arm prices the
    // whole positional premium against the bag build above
    runArm("positional build (q251 unified shape)", () => {
      val dir = tmp()
      TextIndex.buildPositional(docs, "doc_id", "text", dir,
        nBuckets = 8, filesPerBucket = 2)
    })
    // the vocab sidecar's opt-in price: same q223 lifecycle with the
    // sidecar maintained — buildVocab's one column-pruned store pass
    // plus the append's batch-sized vocab_extend phase (compare
    // against the arm above; stores that never opt in pay one
    // existence probe per append)
    runArm("build 2/3 + vocab + append 1/3 (q255 shape)", () => {
      val dir = tmp()
      TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
        "text", dir, nBuckets = 8, filesPerBucket = 2)
      TextIndex.buildVocab(spark, dir)
      TextIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id",
        "text", dir, filesPerBucket = 2)
    })
    // the block-max sidecar's opt-in price (q266 lifecycle):
    // blockmax_build is one column-pruned pass over the written files,
    // blockmax_extend covers only the append's new files — compare
    // against the plain q223 arm; stores that never opt in pay one
    // existence probe per append
    runArm("build 2/3 + blockmax + append 1/3 (q266 shape)", () => {
      val dir = tmp()
      TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
        "text", dir, nBuckets = 8, filesPerBucket = 2)
      TextIndex.buildBlockStats(spark, dir)
      TextIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id",
        "text", dir, filesPerBucket = 2)
    })
    spark.stop()
  }
}
