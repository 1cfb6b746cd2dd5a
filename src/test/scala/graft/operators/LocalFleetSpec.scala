package graft.operators

import graft.{JobNames, SparkSpec}
import org.apache.spark.sql.DataFrame

/** A local store is a fleet of one, and a batched fleet serve is one
  * plan:
  *   - a warm batched fleet serve, unpruned and pruned, BM25 and LM,
  *     runs as many jobs on three shards as on two;
  *   - the batched local verbs answer exactly as their fleet twins over
  *     `Seq(store)`.
  */
class LocalFleetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_local_fleet_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select($"query_id", $"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq

  /** Docs `from until until`: every tenth dense in x and y, the rest one
    * of x or y amid filler, so each slice holds every query term. */
  private def docs(from: Long, until: Long): DataFrame =
    (from until until).map { i =>
      val filler = Seq.tabulate(20)(j => s"f${(i + j) % 7}").mkString(" ")
      (i, if (i % 10 == 0) "x x y y z" else if (i % 2 == 0) s"x $filler"
        else s"y z $filler")
    }.toDF("doc_id", "text")

  private val queries = Seq((0L, Seq("x", "y")), (1L, Seq("z")),
    (2L, Seq("y", "absent")), (3L, Seq("absent"))).toDF("q", "terms")

  private type BatchVerb = (Seq[String], Int) => DataFrame

  private val fleetVerbs = Seq[(String, BatchVerb)](
    "topKShardedBatch" -> ((ds, k) => TextIndex.topKShardedBatch(spark, ds,
      queries, "q", "terms", k)),
    "lmTopKShardedBatch" -> ((ds, k) => TextIndex.lmTopKShardedBatch(spark,
      ds, queries, "q", "terms", k)),
    "topKShardedPrunedBatch" -> ((ds, k) => TextIndex.topKShardedPrunedBatch(
      spark, ds, queries, "q", "terms", k)),
    "lmTopKShardedPrunedBatch" -> ((ds, k) =>
      TextIndex.lmTopKShardedPrunedBatch(spark, ds, queries, "q", "terms", k)))

  test("a warm batched fleet serve runs as many jobs on three shards as " +
      "on two") {
    val shards = Seq(0L, 40L, 80L).zipWithIndex.map { case (from, i) =>
      val d = tmp(s"s$i")
      TextIndex.build(docs(from, from + 40), "doc_id", "text", d,
        nBuckets = 4)
      TextIndex.buildBlockStats(spark, d)
      d
    }
    for ((name, verb) <- fleetVerbs) {
      val jobs = Seq(2, 3).map { n =>
        val fleet = shards.take(n)
        val cold = rows(verb(fleet, 5))
        val (warm, names) = JobNames.during(spark)(rows(verb(fleet, 5)))
        assert(warm == cold && warm.nonEmpty, s"$name on $n shards")
        if (name.contains("Pruned"))
          assert(TextIndex.lastPruneStats.exists(!_.delegated), name)
        names.values.sum
      }
      assert(jobs.distinct.size == 1, s"$name: jobs on 2 and 3 shards $jobs")
    }
  }

  test("the batched local verbs equal their fleet twins over one store") {
    val store = tmp("one")
    TextIndex.build(docs(0, 60), "doc_id", "text", store, nBuckets = 4)
    TextIndex.buildBlockStats(spark, store)
    // a second batch overlaps the first's zones: the pruned verbs prune
    TextIndex.append(docs(60, 90), "doc_id", "text", store)
    val localVerbs = Seq[(String, Int => DataFrame)](
      "topKBatch" -> (k => TextIndex.topKBatch(spark, store, queries, "q",
        "terms", k)),
      "lmTopKBatch" -> (k => TextIndex.lmTopKBatch(spark, store, queries,
        "q", "terms", k)),
      "topKPrunedBatch" -> (k => TextIndex.topKPrunedBatch(spark, store,
        queries, "q", "terms", k)),
      "lmTopKPrunedBatch" -> (k => TextIndex.lmTopKPrunedBatch(spark, store,
        queries, "q", "terms", k)))
    for (((name, local), (_, fleet)) <- localVerbs.zip(fleetVerbs);
         k <- Seq(2, 30)) {
      val want = rows(fleet(Seq(store), k))
      assert(want.map(_._1).distinct.sorted == Seq(0L, 1L, 2L), s"$name k=$k")
      assert(rows(local(k)) == want, s"$name k=$k")
      if (name.contains("Pruned"))
        assert(TextIndex.lastPruneStats.exists(!_.delegated), name)
    }
    // and per query, the single serve's rows
    val terms = queries.as[(Long, Seq[String])].collect().toSeq
    for ((q, ts) <- terms if ts.size > 1; k = 4) {
      def mine(df: DataFrame) = rows(df).filter(_._1 == q)
        .map { case (_, d, n, s) => (d, n, s) }
      def single(df: DataFrame) = df.select($"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Double)].collect().toSeq
      assert(mine(TextIndex.topKBatch(spark, store, queries, "q", "terms",
        k)) == single(TextIndex.topK(spark, store, ts, k)), s"bm25 q=$q k=$k")
      assert(mine(TextIndex.lmTopKBatch(spark, store, queries, "q",
        "terms", k)) == single(TextIndex.lmTopK(spark, store, ts, k)),
        s"lm q=$q k=$k")
    }
  }
}
