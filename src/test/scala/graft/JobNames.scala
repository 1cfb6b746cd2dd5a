package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs by the name of each job's first
  * stage — the call site Spark names the stage after, e.g.
  * `parquet at TextIndex.scala:790` for a parquet schema-inference job.
  * Only jobs submitted by the block's thread count: they carry a local
  * property that SQL broadcasts and subqueries inherit, so other
  * threads' jobs never leak in. */
object JobNames {
  private val Tag = "graft.test.jobNames"

  /** `f`'s result and its jobs' first-stage names with their counts. */
  def during[T](spark: SparkSession)(f: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val fence = tag + ":fence"
    val names = new ConcurrentLinkedQueue[String]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))) match {
          case Some(`tag`) =>
            e.stageInfos.sortBy(_.stageId).headOption
              .foreach(s => names.add(s.name))
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    val before = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      val r = f
      // the bus delivers events in order: once the fence job's start
      // arrives, every job `f` submitted has been seen
      sc.setLocalProperty(Tag, fence)
      sc.parallelize(Seq(1), 1).count()
      require(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the fence job")
      (r, names.asScala.toSeq.groupBy(identity)
        .map { case (n, v) => n -> v.size })
    } finally {
      sc.setLocalProperty(Tag, before)
      sc.removeSparkListener(listener)
    }
  }

  /** The schema-inference jobs among `jobs`: a parquet read's inference
    * job takes the `parquet at …` name of the call that builds the
    * reader. (So does a parquet write; a serve writes nothing.) */
  def inference(jobs: Map[String, Int]): Map[String, Int] =
    jobs.filter(_._1.startsWith("parquet at "))
}
