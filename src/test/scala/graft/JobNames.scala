package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block runs by name. By default the name is
  * that of each job's first stage — the call site Spark names the stage
  * after, e.g. `parquet at TextIndex.scala:790` for a parquet
  * schema-inference job. With `sites`, a job is named by the innermost
  * `graft.` frame of its SQL execution's call site (else of its first
  * stage's), e.g. `graft.operators.TextIndex$.$anonfun$tombSnapshot$1
  * (TextIndex.scala:800)`: under AQE most first stages run from a
  * future and are named after a `CompletableFuture` frame, while the
  * execution's call site was captured on the calling thread. A job with
  * no program frame keeps its first-stage name. Only jobs submitted by
  * the block's thread count: they carry a local property that SQL
  * broadcasts and subqueries inherit, so other threads' jobs never leak
  * in. */
object JobNames {
  private val Tag = "graft.test.jobNames"
  private val Frame = """(?m)^\s*(graft\.\S+)""".r

  /** `f`'s result and its jobs' names with their counts. */
  def during[T](spark: SparkSession, sites: Boolean = false)(
      f: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val fence = tag + ":fence"
    val names = new ConcurrentLinkedQueue[String]()
    // SQL execution id -> its call site; the bus delivers an
    // execution's start before any of its jobs
    val execSites = new ConcurrentHashMap[Long, String]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    def frame(site: String) = Frame.findFirstMatchIn(site).map(_.group(1))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if sites =>
          execSites.put(s.executionId, s.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(Tag))) match {
          case Some(`tag`) =>
            e.stageInfos.sortBy(_.stageId).headOption.foreach { s =>
              val site = if (!sites) None else props
                .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
                .flatMap(id => Option(execSites.get(id.toLong)))
                .flatMap(frame).orElse(frame(s.details))
              names.add(site.getOrElse(s.name))
            }
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
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

  /** The schema-inference jobs among first-stage-named `jobs`: a parquet
    * read's inference job takes the `parquet at …` name of the call that
    * builds the reader. (So does a parquet write; a serve writes
    * nothing.) */
  def inference(jobs: Map[String, Int]): Map[String, Int] =
    jobs.filter(_._1.startsWith("parquet at "))
}
