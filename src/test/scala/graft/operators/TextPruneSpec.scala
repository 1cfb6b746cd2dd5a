package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Contracts of the `_blockmax` sidecar and the block-max-pruned BM25
  * serve (Ding & Suel's block-max WAND / MaxScore, file-blocked):
  *   - topKPruned == topK row-for-row, on EITHER store layout, across
  *     the whole lifecycle (build, appends, compaction, selective
  *     compaction) and across randomized corpora/term sets (the
  *     exactness proof is algebraic; the randomized sweep pins the
  *     implementation to it);
  *   - on a cap-skewed corpus the serve provably SKIPS files: the
  *     final plan reads fewer files than the probed buckets hold, and
  *     the instrumentation ledger records skipped > 0;
  *   - the candidate-completion path (upper-bound survivors missing a
  *     skipped term's mass) re-ranks exactly;
  *   - pending tombstones PRUNE: the point-lookup subtraction keeps
  *     df/ctf exact and the reads anti-join the tombstone set; only a
  *     set past the In-pushdown budget delegates;
  *   - appends extend the sidecar from the new files alone; compact
  *     rebuilds it; a coverage gap heals at serve time.
  */
class TextPruneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_prune_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select($"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Double)].collect().toSeq

  /** The skewed fixture: batch A holds high-tf/short docs for both
    * query terms (high caps), batches B and C hold tf=1/long docs for
    * one term each (low caps) — θ from A's partials strictly exceeds
    * every B/C file's best-case bound, so B/C files are skipped. */
  private def skewDocs(aN: Int = 10, bN: Int = 25, cN: Int = 25) = {
    val filler = (i: Long, n: Int) =>
      Seq.tabulate(n)(j => s"f${(i + j) % 7}").mkString(" ")
    val a = (0L until aN).map(i =>
      (i, "x x x x x y y y y y"))
    val b = (aN.toLong until (aN + bN)).map(i =>
      (i, s"x ${filler(i, 39)}"))
    val c = ((aN + bN).toLong until (aN + bN + cN)).map(i =>
      (i, s"y ${filler(i, 39)}"))
    (a.toDF("doc_id", "text"), b.toDF("doc_id", "text"),
      c.toDF("doc_id", "text"))
  }

  test("skewed corpus: pruned == unpruned, files skipped, plan bounded") {
    val dir = tmp("skew")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    val terms = Seq("x", "y")
    val want = rows(TextIndex.topK(spark, dir, terms, 5))
    val res = TextIndex.topKPruned(spark, dir, terms, 5)
    assert(rows(res) == want, "pruned serve must equal the unpruned one")
    val st = TextIndex.lastPruneStats.get
    assert(!st.delegated && st.skipped > 0,
      s"the skew must actually skip files: $st")
    assert(st.survivors + st.skipped == st.relevantFiles)
    // the final plan reads at most the survivor files (completion adds
    // skipped-file lookups only when candidates need them)
    val scanned = graft.plans.PlanProbe.scannedFileCount(
      TextIndex.topKPruned(spark, dir, terms, 5))
    assert(scanned < st.relevantFiles,
      s"final plan must beat a full probed read: $scanned vs $st")
  }

  test("randomized sweep: pruned == unpruned on both layouts, " +
      "appends + compaction + selective compaction") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new Random(71)
    def mkDocs(from: Long, until: Long): DataFrame =
      (from until until).map { i =>
        val n = 3 + rnd.nextInt(30)
        (i, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
    for (positional <- Seq(false, true)) {
      val dir = tmp(if (positional) "rndpos" else "rndbag")
      val d0 = mkDocs(0, 40)
      if (positional)
        TextIndex.buildPositional(d0, "doc_id", "text", dir,
          nBuckets = 4, filesPerBucket = 1)
      else
        TextIndex.build(d0, "doc_id", "text", dir, nBuckets = 4,
          filesPerBucket = 1)
      TextIndex.buildBlockStats(spark, dir)
      if (positional)
        TextIndex.appendPositional(mkDocs(40, 70), "doc_id", "text", dir)
      else
        TextIndex.append(mkDocs(40, 70), "doc_id", "text", dir)
      for (trial <- 0 until 6) {
        val nt = 1 + rnd.nextInt(3)
        val terms = Seq.fill(nt)(words(rnd.nextInt(words.size))).distinct
        val k = 1 + rnd.nextInt(8)
        assert(rows(TextIndex.topKPruned(spark, dir, terms, k)) ==
          rows(TextIndex.topK(spark, dir, terms, k)),
          s"trial $trial positional=$positional terms=$terms k=$k")
        assert(!TextIndex.lastPruneStats.get.delegated)
      }
      // compaction rebuilds the sidecar into the rewrite
      TextIndex.compact(spark, dir, filesPerBucket = 1)
      assert(rows(TextIndex.topKPruned(spark, dir,
          Seq("alpha", "kappa"), 7)) ==
        rows(TextIndex.topK(spark, dir, Seq("alpha", "kappa"), 7)),
        s"post-compact positional=$positional")
      // selective compaction replaces some buckets' files; the serve
      // drops the replaced files' rows and heals coverage on the fly
      if (positional)
        TextIndex.appendPositional(mkDocs(70, 90), "doc_id", "text", dir)
      else
        TextIndex.append(mkDocs(70, 90), "doc_id", "text", dir)
      TextIndex.compactSelective(spark, dir, maxFilesPerBucket = 1)
      assert(rows(TextIndex.topKPruned(spark, dir,
          Seq("beta", "gamma", "iota"), 9)) ==
        rows(TextIndex.topK(spark, dir, Seq("beta", "gamma", "iota"), 9)),
        s"post-selective positional=$positional")
    }
  }

  test("incomplete candidates drop exactly: docs straddling survivor " +
      "and skipped files never surface with a partial score") {
    // The section contract's sharpest edge: a doc whose x posting is
    // read from a survivor file while its y posting sits in a skipped
    // file is scored INCOMPLETELY by the survivor pass — the serve
    // must drop it (its exact score is provably < θ), never rank its
    // partial. Batch D's docs are exactly that shape: x-heavy (their
    // x file may survive) with a tf=1 y posting in D's own low-cap y
    // file. Sweep k so θ crosses every cap boundary.
    val dir = tmp("straddle")
    val filler = (i: Long, n: Int) =>
      Seq.tabulate(n)(j => s"f${(i + j) % 7}").mkString(" ")
    val a = (0L until 10L).map(i => (i, "x x x x x y y y y y"))
    val c = (10L until 20L).map(i => (i, "y y y y y " + filler(i, 5)))
    val d = (20L until 50L).map(i =>
      (i, s"x x x x y ${filler(i, 35)}"))
    TextIndex.build(a.toDF("doc_id", "text"), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(c.toDF("doc_id", "text"), "doc_id", "text", dir)
    TextIndex.append(d.toDF("doc_id", "text"), "doc_id", "text", dir)
    var skippedTotal = 0
    for (k <- Seq(1, 3, 5, 10, 20, 40)) {
      assert(rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), k)) ==
        rows(TextIndex.topK(spark, dir, Seq("x", "y"), k)), s"k=$k")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
    }
    assert(skippedTotal > 0,
      "fixture must actually skip files for at least one k")
  }

  test("LM pruned == unpruned: negative length-norm contributions ride " +
      "the floor adjustment and plus-truncated caps") {
    // Dirichlet LM's bg term is negative and grows with dl: a doc's
    // exact score sits BELOW its probe partial, so the k-th partial
    // alone would over-prune — the floor adjustment (Σ min(0, floor))
    // must restore θ ≤ s_k on corpora with wild dl variance.
    val dir = tmp("lm")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    for (k <- Seq(1, 3, 5, 12); mu <- Seq(50.0, 2000.0)) {
      assert(rows(TextIndex.lmTopKPruned(spark, dir, Seq("x", "y"), k,
          mu)) ==
        rows(TextIndex.lmTopK(spark, dir, Seq("x", "y"), k, mu)),
        s"k=$k mu=$mu")
      assert(!TextIndex.lastPruneStats.get.delegated)
    }
    // randomized LM sweep on a mixed corpus
    val words = Seq("pine", "oak", "fir", "elm", "ash", "yew")
    val rnd = new Random(37)
    val docs = (0L until 80L).map { i =>
      val n = 2 + rnd.nextInt(40)
      (i, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val dir2 = tmp("lmrnd")
    TextIndex.build(docs.filter($"doc_id" < 50), "doc_id", "text", dir2,
      nBuckets = 4, filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir2)
    TextIndex.append(docs.filter($"doc_id" >= 50), "doc_id", "text", dir2)
    for (trial <- 0 until 6) {
      val terms = Seq.fill(1 + rnd.nextInt(3))(
        words(rnd.nextInt(words.size))).distinct
      val k = 1 + rnd.nextInt(8)
      assert(rows(TextIndex.lmTopKPruned(spark, dir2, terms, k)) ==
        rows(TextIndex.lmTopK(spark, dir2, terms, k)),
        s"trial $trial terms=$terms k=$k")
    }
  }

  test("batched pruned == per-query loop == unpruned batch; the union " +
      "read skips files every query agrees to skip") {
    val dir = tmp("batch")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    val queries = Seq(
      (0L, Seq("x", "y")), (1L, Seq("x")), (2L, Seq("f1", "f2")),
      (3L, Seq("zzz"))).toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    for (k <- Seq(1, 5, 12)) {
      val got = brows(TextIndex.topKPrunedBatch(spark, dir, queries,
        "query_id", "terms", k))
      assert(got == brows(TextIndex.topKBatch(spark, dir, queries,
        "query_id", "terms", k)), s"k=$k vs unpruned batch")
      // and per query, the single pruned serve agrees
      val loop = Seq(0L -> Seq("x", "y"), 1L -> Seq("x"),
        2L -> Seq("f1", "f2")).flatMap { case (q, ts) =>
        rows(TextIndex.topKPruned(spark, dir, ts, k))
          .map(r => (q, r._1, r._2, r._3))
      }
      assert(got.sortBy(t => (t._1, -t._4, t._2)) ==
        loop.sortBy(t => (t._1, -t._4, t._2)), s"k=$k vs loop")
    }
    // the all-term query frame still skips the low-cap bands when θ
    // is dominated by the dense batch
    brows(TextIndex.topKPrunedBatch(spark, dir,
      Seq((0L, Seq("x", "y"))).toDF("query_id", "terms"),
      "query_id", "terms", 5))
    assert(TextIndex.lastPruneStats.get.skipped > 0)
    // the batched LM form: same frame, floors riding per query
    for (k <- Seq(1, 5, 12)) {
      assert(brows(TextIndex.lmTopKPrunedBatch(spark, dir, queries,
          "query_id", "terms", k)) ==
        brows(TextIndex.lmTopKBatch(spark, dir, queries,
          "query_id", "terms", k)), s"LM batch k=$k")
      assert(!TextIndex.lastPruneStats.get.delegated)
    }
  }

  test("sharding composes with pruning: shardedPruned == sharded == " +
      "one store over the union; per-shard skipping still happens") {
    val (a, b, c) = skewDocs()
    // shard 0 carries the cap VARIANCE (dense build + sparse append),
    // shard 1 is the y band — pruning runs per shard against the
    // GLOBAL df the sidecars sum to
    val s0 = tmp("shp0")
    val s1 = tmp("shp1")
    TextIndex.build(a, "doc_id", "text", s0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.append(b, "doc_id", "text", s0, filesPerBucket = 1)
    TextIndex.build(c, "doc_id", "text", s1, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s1)
    val whole = tmp("shpw")
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", whole,
      nBuckets = 4, filesPerBucket = 1)
    val shards = Seq(s0, s1)
    var skippedTotal = 0
    for (k <- Seq(1, 3, 5, 12)) {
      val want = rows(TextIndex.topK(spark, whole, Seq("x", "y"), k))
      assert(rows(TextIndex.topKShardedPruned(spark, shards,
        Seq("x", "y"), k)) == want, s"k=$k vs one store")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
      assert(rows(TextIndex.topKSharded(spark, shards,
        Seq("x", "y"), k)) == want, s"k=$k unpruned scatter")
    }
    assert(skippedTotal > 0, "the banded shard must skip files")
    // a pending tombstone on ANY shard delegates the whole scatter
    // (global df from the sidecars would go stale-high)
    assert(TextIndex.delete(spark, s1, Seq(36L).toDF("doc_id"),
      "doc_id") == 1L)
    assert(TextIndex.delete(spark, whole, Seq(36L).toDF("doc_id"),
      "doc_id") == 1L)
    assert(rows(TextIndex.topKShardedPruned(spark, shards,
        Seq("x", "y"), 5)) ==
      rows(TextIndex.topK(spark, whole, Seq("x", "y"), 5)))
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("BM25F pruned == unpruned across field weights, k, and layout; " +
      "banded field stores actually skip files") {
    // two-field corpus with tf/dl BANDS per field: band A dense+short
    // (sets θ), band B sparse+long (low caps — should skip), band C
    // carries no query terms at all
    val filler = (i: Long, n: Int) =>
      Seq.tabulate(n)(j => s"f${(i + j) % 7}").mkString(" ")
    val fdocs = ((0L until 10L).map(i =>
        (i, "x x x x x y", "y y y y y x")) ++
      (10L until 30L).map(i =>
        (i, s"x ${filler(i, 30)}", s"y ${filler(i + 3, 30)}")) ++
      (30L until 50L).map(i =>
        (i, filler(i, 8), filler(i + 5, 20))))
      .toDF("doc_id", "title", "body")
    def banded(dir: String, c: String, positional: Boolean): Unit = {
      val a = fdocs.filter($"doc_id" < 10)
      val b = fdocs.filter($"doc_id" >= 10 && $"doc_id" < 30)
      val rest = fdocs.filter($"doc_id" >= 30)
      if (positional)
        TextIndex.buildPositional(a, "doc_id", c, dir, nBuckets = 4,
          filesPerBucket = 1)
      else TextIndex.build(a, "doc_id", c, dir, nBuckets = 4,
        filesPerBucket = 1)
      TextIndex.buildBlockStats(spark, dir)
      if (positional) {
        TextIndex.appendPositional(b, "doc_id", c, dir, filesPerBucket = 1)
        TextIndex.appendPositional(rest, "doc_id", c, dir,
          filesPerBucket = 1)
      } else {
        TextIndex.append(b, "doc_id", c, dir, filesPerBucket = 1)
        TextIndex.append(rest, "doc_id", c, dir, filesPerBucket = 1)
      }
    }
    val dirT = tmp("f_t")
    val dirB = tmp("f_b")
    banded(dirT, "title", positional = false)
    banded(dirB, "body", positional = true) // mixed layouts on purpose
    var skippedTotal = 0
    for ((bt, bb, boostT) <- Seq((0.5, 0.75, 2.0), (0.0, 1.0, 1.0),
           (0.75, 0.25, 3.0), (1.0, 0.0, 0.5));
         k <- Seq(1, 3, 5, 10)) {
      val fields = Seq(("title", dirT, boostT, bt), ("body", dirB, 1.0, bb))
      assert(rows(TextIndex.bm25fTopKPruned(spark, fields,
          Seq("x", "y"), k)) ==
        rows(TextIndex.bm25fTopK(spark, fields, Seq("x", "y"), k)),
        s"bt=$bt bb=$bb boostT=$boostT k=$k")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
    }
    assert(skippedTotal > 0, "the banded field stores must skip files")
    // the fields front door picks the pruned path on opted-in stores
    val fdFields = Seq(("title", dirT, 2.0, 0.5),
      ("body", dirB, 1.0, 0.75))
    assert(rows(TextIndex.serveFields(spark, fdFields,
        Seq("x", "y"), 5)) ==
      rows(TextIndex.bm25fTopK(spark, fdFields, Seq("x", "y"), 5)))
    assert(TextIndex.lastServeRoute.contains("bm25fTopKPruned"))
    // randomized sweep: random terms, k, weights
    val words = Seq("x", "y", "f0", "f1", "f2", "f3", "zzz")
    val rnd = new Random(113)
    for (trial <- 0 until 6) {
      val ts = Seq.fill(1 + rnd.nextInt(3))(
        words(rnd.nextInt(words.size))).distinct
      val k = 1 + rnd.nextInt(8)
      val fields = Seq(
        ("title", dirT, rnd.nextDouble() * 3, rnd.nextDouble()),
        ("body", dirB, rnd.nextDouble() * 3, rnd.nextDouble()))
      assert(rows(TextIndex.bm25fTopKPruned(spark, fields, ts, k)) ==
        rows(TextIndex.bm25fTopK(spark, fields, ts, k)),
        s"trial $trial terms=$ts k=$k fields=$fields")
    }
    // a pending tombstone (the same doc deleted from BOTH field
    // stores — fields of one corpus) delegates the serve, exactly
    Seq(dirT, dirB).foreach { d =>
      assert(TextIndex.delete(spark, d, Seq(17L).toDF("doc_id"),
        "doc_id") == 1L)
    }
    val fields = Seq(("title", dirT, 2.0, 0.5), ("body", dirB, 1.0, 0.75))
    assert(rows(TextIndex.bm25fTopKPruned(spark, fields,
        Seq("x", "y"), 5)) ==
      rows(TextIndex.bm25fTopK(spark, fields, Seq("x", "y"), 5)),
      "tombstone delegation must stay exact")
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("BATCHED BM25F pruned == unpruned batch == the single-query " +
      "loop; the union still skips") {
    val filler = (i: Long, n: Int) =>
      Seq.tabulate(n)(j => s"f${(i + j) % 7}").mkString(" ")
    val fdocs = ((0L until 10L).map(i =>
        (i, "x x x x x y", "y y y y y x")) ++
      (10L until 30L).map(i =>
        (i, s"x ${filler(i, 30)}", s"y ${filler(i + 3, 30)}")) ++
      (30L until 50L).map(i =>
        (i, filler(i, 8), filler(i + 5, 20))))
      .toDF("doc_id", "title", "body")
    def banded(dir: String, c: String): Unit = {
      TextIndex.build(fdocs.filter($"doc_id" < 10), "doc_id", c, dir,
        nBuckets = 4, filesPerBucket = 1)
      TextIndex.buildBlockStats(spark, dir)
      TextIndex.append(fdocs.filter($"doc_id" >= 10 && $"doc_id" < 30),
        "doc_id", c, dir, filesPerBucket = 1)
      TextIndex.append(fdocs.filter($"doc_id" >= 30), "doc_id", c, dir,
        filesPerBucket = 1)
    }
    val dirT = tmp("fb_t")
    val dirB = tmp("fb_b")
    banded(dirT, "title")
    banded(dirB, "body")
    val fields = Seq(("title", dirT, 2.0, 0.5), ("body", dirB, 1.0, 0.75))
    val queries = Seq(
      (0L, Seq("x", "y")), (1L, Seq("x")), (2L, Seq("f1", "f2")),
      (3L, Seq("zzz"))).toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    var skippedTotal = 0
    for (k <- Seq(1, 5, 12)) {
      val got = brows(TextIndex.bm25fTopKPrunedBatch(spark, fields,
        queries, "query_id", "terms", k))
      assert(got == brows(TextIndex.bm25fTopKBatch(spark, fields,
        queries, "query_id", "terms", k)), s"k=$k vs unpruned batch")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
      // and per query, the single pruned serve agrees
      val loop = Seq(0L -> Seq("x", "y"), 1L -> Seq("x"),
        2L -> Seq("f1", "f2")).flatMap { case (q, ts) =>
        rows(TextIndex.bm25fTopKPruned(spark, fields, ts, k))
          .map(r => (q, r._1, r._2, r._3))
      }
      assert(got.sortBy(t => (t._1, -t._4, t._2)) ==
        loop.sortBy(t => (t._1, -t._4, t._2)), s"k=$k vs loop")
    }
    assert(skippedTotal > 0,
      "the banded field stores must skip under the batched union too")
    // tombstones delegate the batch whole, exactly
    Seq(dirT, dirB).foreach { d =>
      assert(TextIndex.delete(spark, d, Seq(17L).toDF("doc_id"),
        "doc_id") == 1L)
    }
    assert(brows(TextIndex.bm25fTopKPrunedBatch(spark, fields, queries,
        "query_id", "terms", 5)) ==
      brows(TextIndex.bm25fTopKBatch(spark, fields, queries,
        "query_id", "terms", 5)))
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("BM25F sharded == BM25F over per-field union stores; facets " +
      "sum across shards") {
    val filler = (i: Long, n: Int) =>
      Seq.tabulate(n)(j => s"f${(i + j) % 7}").mkString(" ")
    val fdocs = (0L until 45L).map { i =>
      val t = if (i % 5 == 0) s"x y ${filler(i, 2)}" else filler(i, 4)
      val b = if (i % 3 == 0) s"x ${filler(i, 20)}"
        else s"y ${filler(i + 2, 12)}"
      (i, t, b)
    }.toDF("doc_id", "title", "body")
    // three doc shards × two fields, plus per-field union stores
    val shards = (0 until 3).map { i =>
      val part = fdocs.filter($"doc_id" % 3 === i)
      val dT = tmp(s"fs_t$i")
      val dB = tmp(s"fs_b$i")
      TextIndex.build(part, "doc_id", "title", dT, nBuckets = 4,
        filesPerBucket = 1)
      TextIndex.build(part, "doc_id", "body", dB, nBuckets = 4,
        filesPerBucket = 1)
      Seq(("title", dT, 2.0, 0.5), ("body", dB, 1.0, 0.75))
    }
    val uT = tmp("fs_ut")
    val uB = tmp("fs_ub")
    TextIndex.build(fdocs, "doc_id", "title", uT, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.build(fdocs, "doc_id", "body", uB, nBuckets = 4,
      filesPerBucket = 1)
    val union = Seq(("title", uT, 2.0, 0.5), ("body", uB, 1.0, 0.75))
    for (k <- Seq(1, 3, 5, 12); ts <- Seq(Seq("x"), Seq("x", "y"))) {
      assert(rows(TextIndex.bm25fTopKSharded(spark, shards, ts, k)) ==
        rows(TextIndex.bm25fTopK(spark, union, ts, k)),
        s"k=$k terms=$ts")
    }
    // a shard with a different weight list refuses loudly
    intercept[IllegalArgumentException] {
      TextIndex.bm25fTopKSharded(spark,
        shards.init :+ shards.last.map { case (f, d, _, bf) =>
          (f, d, 9.0, bf) }, Seq("x"), 3)
    }
    // facet counts: disjoint match sets sum across shards
    val docs1 = fdocs.select($"doc_id",
      concat(lit("lang"), ($"doc_id" % 4).cast("string")).as("lang"))
    val bodyShards = shards.map(_.last._2)
    val bodyUnion = uB
    def frows(df: DataFrame) =
      df.select($"facet", $"n_docs").as[(String, Long)].collect().toSeq
    assert(frows(TextIndex.facetCountsSharded(spark, bodyShards,
        Seq("x"), docs1, "doc_id", "lang")) ==
      frows(TextIndex.facetCounts(spark, bodyUnion, Seq("x"), docs1,
        "doc_id", "lang")))
  }

  test("BM25F pruned delegates on a field store without _blockmax") {
    val (a, b, _) = skewDocs()
    val docs = a.unionAll(b)
    val d0 = tmp("fb0")
    val d1 = tmp("fb1")
    TextIndex.build(docs, "doc_id", "text", d0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, d0)
    TextIndex.build(docs, "doc_id", "text", d1, nBuckets = 4,
      filesPerBucket = 1) // not opted in
    val fields = Seq(("a", d0, 2.0, 0.5), ("b", d1, 1.0, 0.75))
    assert(rows(TextIndex.bm25fTopKPruned(spark, fields,
        Seq("x", "y"), 5)) ==
      rows(TextIndex.bm25fTopK(spark, fields, Seq("x", "y"), 5)))
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("racing-heal duplicate sidecar rows never inflate df: reads " +
      "dedupe by (file, w) and the fold rewrite purges them") {
    val dir = tmp("dup")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    val want = rows(TextIndex.topK(spark, dir, Seq("x", "y"), 5))
    assert(rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), 5)) ==
      want)
    // simulate two serves racing the same coverage heal: the whole
    // sidecar lands again as a second append — every (file, w) row
    // now exists twice; Σcnt without the read-side dedup would
    // double df and move every idf
    val side = s"$dir/_blockmax"
    spark.read.parquet(side).write.mode("append").parquet(side)
    assert(rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), 5)) ==
      want, "duplicate coverage rows must not move answers")
    assert(rows(TextIndex.topKPrunedBatch(spark, dir,
        Seq((0L, Seq("x", "y"))).toDF("query_id", "terms"),
        "query_id", "terms", 5)
      .select($"doc_id", $"n_terms", $"score")) == want,
      "the batched read path dedupes too")
  }

  test("a mixed fleet (one shard not opted into _blockmax) delegates " +
      "the scatter instead of failing mid-serve") {
    val (a, b, c) = skewDocs()
    val s0 = tmp("mix0")
    val s1 = tmp("mix1")
    TextIndex.build(a.unionAll(b), "doc_id", "text", s0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.build(c, "doc_id", "text", s1, nBuckets = 4,
      filesPerBucket = 1) // never opted in
    val whole = tmp("mixw")
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", whole,
      nBuckets = 4, filesPerBucket = 1)
    assert(rows(TextIndex.topKShardedPruned(spark, Seq(s0, s1),
        Seq("x", "y"), 5)) ==
      rows(TextIndex.topK(spark, whole, Seq("x", "y"), 5)),
      "the mixed fleet must still answer exactly")
    assert(TextIndex.lastPruneStats.get.delegated,
      "…through the unpruned scatter, not a store-level crash")
  }

  test("LM scatter: lmTopKSharded == lmTopK over the union; the pruned " +
      "composition skips under the global θ with global floors") {
    val (a, b, c) = skewDocs()
    val s0 = tmp("lms0")
    val s1 = tmp("lms1")
    TextIndex.build(a, "doc_id", "text", s0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.append(b, "doc_id", "text", s0, filesPerBucket = 1)
    TextIndex.build(c, "doc_id", "text", s1, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s1)
    val whole = tmp("lmsw")
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", whole,
      nBuckets = 4, filesPerBucket = 1)
    val shards = Seq(s0, s1)
    var skippedTotal = 0
    for (k <- Seq(1, 3, 5, 12); mu <- Seq(50.0, 2000.0)) {
      val want = rows(TextIndex.lmTopK(spark, whole, Seq("x", "y"), k, mu))
      assert(rows(TextIndex.lmTopKSharded(spark, shards,
        Seq("x", "y"), k, mu)) == want, s"k=$k mu=$mu unpruned scatter")
      assert(rows(TextIndex.lmTopKShardedPruned(spark, shards,
        Seq("x", "y"), k, mu)) == want, s"k=$k mu=$mu pruned scatter")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
    }
    assert(skippedTotal > 0, "the banded shard must skip under LM too")
    // tombstone on any shard delegates, exactly
    assert(TextIndex.delete(spark, s1, Seq(36L).toDF("doc_id"),
      "doc_id") == 1L)
    assert(TextIndex.delete(spark, whole, Seq(36L).toDF("doc_id"),
      "doc_id") == 1L)
    assert(rows(TextIndex.lmTopKShardedPruned(spark, shards,
        Seq("x", "y"), 5)) ==
      rows(TextIndex.lmTopK(spark, whole, Seq("x", "y"), 5)))
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("batched scatter: topKShardedBatch and its pruned composition " +
      "== topKBatch over the union, per query; the union still skips") {
    val (a, b, c) = skewDocs()
    val s0 = tmp("sb0")
    val s1 = tmp("sb1")
    TextIndex.build(a, "doc_id", "text", s0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.append(b, "doc_id", "text", s0, filesPerBucket = 1)
    TextIndex.build(c, "doc_id", "text", s1, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s1)
    val whole = tmp("sbw")
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", whole,
      nBuckets = 4, filesPerBucket = 1)
    val shards = Seq(s0, s1)
    val queries = Seq(
      (0L, Seq("x", "y")), (1L, Seq("x")), (2L, Seq("f1", "f2")),
      (3L, Seq("zzz"))).toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    var skippedTotal = 0
    for (k <- Seq(1, 5, 12)) {
      val want = brows(TextIndex.topKBatch(spark, whole, queries,
        "query_id", "terms", k))
      assert(brows(TextIndex.topKShardedBatch(spark, shards, queries,
        "query_id", "terms", k)) == want, s"k=$k unpruned batch scatter")
      assert(brows(TextIndex.topKShardedPrunedBatch(spark, shards,
        queries, "query_id", "terms", k)) == want,
        s"k=$k pruned batch scatter")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated)
      skippedTotal += st.skipped
    }
    assert(skippedTotal > 0,
      "the banded shard must skip under the per-query global θ")
    // a shard without the sidecar delegates the batched scatter whole
    val s2 = tmp("sb2")
    TextIndex.build(Seq((1000L, "x f0 f1"), (1001L, "y f2"))
      .toDF("doc_id", "text"), "doc_id", "text", s2, nBuckets = 4)
    assert(brows(TextIndex.topKShardedPrunedBatch(spark,
        shards :+ s2, queries, "query_id", "terms", 5)) ==
      brows(TextIndex.topKShardedBatch(spark, shards :+ s2, queries,
        "query_id", "terms", 5)))
    assert(TextIndex.lastPruneStats.get.delegated)
  }

  test("past the file-count threshold the single-query serves run the " +
      "distributed cap algebra, bit-identically") {
    val dir = tmp("distcaps")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    val saved = TextIndex.distributedCapsFileThreshold
    try {
      for (k <- Seq(1, 5, 12)) {
        TextIndex.distributedCapsFileThreshold = Int.MaxValue
        val wantB = rows(TextIndex.topKPruned(spark, dir,
          Seq("x", "y"), k))
        assert(!TextIndex.lastPruneDistributed)
        val wantL = rows(TextIndex.lmTopKPruned(spark, dir,
          Seq("x", "y"), k))
        // a 'many-file' store (threshold 2): the same serves cross to
        // the distributed batched algebra — same rows, and the driver
        // never collects the files×terms cap tuples
        TextIndex.distributedCapsFileThreshold = 2
        assert(rows(TextIndex.topKPruned(spark, dir,
          Seq("x", "y"), k)) == wantB, s"BM25 crossover k=$k")
        assert(TextIndex.lastPruneDistributed,
          "the crossover must actually route to the batched algebra")
        assert(!TextIndex.lastPruneStats.get.delegated)
        assert(rows(TextIndex.lmTopKPruned(spark, dir,
          Seq("x", "y"), k)) == wantL, s"LM crossover k=$k")
        assert(TextIndex.lastPruneDistributed)
      }
      // the crossover still skips files on the banded fixture
      TextIndex.distributedCapsFileThreshold = 2
      rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), 5))
      assert(TextIndex.lastPruneStats.get.skipped > 0)
    } finally TextIndex.distributedCapsFileThreshold = saved
  }

  test("the serve front door dispatches by store shape; every route " +
      "answers identically; unknown scorers refuse") {
    val (a, b, c) = skewDocs()
    val dirP = tmp("fd_p") // opted-in single store
    TextIndex.build(a, "doc_id", "text", dirP, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dirP)
    TextIndex.append(b, "doc_id", "text", dirP, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dirP, filesPerBucket = 1)
    val dirU = tmp("fd_u") // plain single store
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", dirU,
      nBuckets = 4, filesPerBucket = 1)
    val s0 = tmp("fd_s0") // opted-in shard fleet
    val s1 = tmp("fd_s1")
    val s1u = tmp("fd_s1u") // same shard content, NOT opted in
    TextIndex.build(a.unionAll(b), "doc_id", "text", s0, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    TextIndex.build(c, "doc_id", "text", s1, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s1)
    TextIndex.build(c, "doc_id", "text", s1u, nBuckets = 4,
      filesPerBucket = 1)
    val terms = Seq("x", "y")
    def route = TextIndex.lastServeRoute.get
    for (sc <- Seq("bm25", "lm")) {
      val want = rows(TextIndex.serve(spark, Seq(dirU), terms, 5, sc))
      assert(route == (if (sc == "bm25") "topK" else "lmTopK"))
      assert(rows(TextIndex.serve(spark, Seq(dirP), terms, 5, sc)) ==
        want, s"$sc pruned single")
      assert(route ==
        (if (sc == "bm25") "topKPruned" else "lmTopKPruned"))
      assert(rows(TextIndex.serve(spark, Seq(s0, s1), terms, 5, sc)) ==
        want, s"$sc sharded pruned")
      assert(route == (if (sc == "bm25") "topKShardedPruned"
        else "lmTopKShardedPruned"))
      assert(rows(TextIndex.serve(spark, Seq(s0, s1u), terms, 5, sc)) ==
        want, s"$sc mixed fleet")
      assert(route ==
        (if (sc == "bm25") "topKSharded" else "lmTopKSharded"))
    }
    // the batched column, including the sharded pruned LM face
    val queries = Seq((0L, Seq("x", "y")), (1L, Seq("x")))
      .toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    for (sc <- Seq("bm25", "lm")) {
      val want = brows(TextIndex.serveBatch(spark, Seq(dirU), queries,
        "query_id", "terms", 5, sc))
      assert(route == (if (sc == "bm25") "topKBatch" else "lmTopKBatch"))
      assert(brows(TextIndex.serveBatch(spark, Seq(dirP), queries,
        "query_id", "terms", 5, sc)) == want, s"$sc pruned batch")
      assert(route == (if (sc == "bm25") "topKPrunedBatch"
        else "lmTopKPrunedBatch"))
      assert(brows(TextIndex.serveBatch(spark, Seq(s0, s1), queries,
        "query_id", "terms", 5, sc)) == want, s"$sc sharded pruned batch")
      assert(route == (if (sc == "bm25") "topKShardedPrunedBatch"
        else "lmTopKShardedPrunedBatch"))
      assert(brows(TextIndex.serveBatch(spark, Seq(s0, s1u), queries,
        "query_id", "terms", 5, sc)) == want, s"$sc mixed batch")
      assert(route == (if (sc == "bm25") "topKShardedBatch"
        else "lmTopKShardedBatch"))
    }
    intercept[IllegalArgumentException] {
      TextIndex.serve(spark, Seq(dirP), terms, 5, "pagerank")
    }
    intercept[IllegalArgumentException] {
      TextIndex.serveBatch(spark, Seq(dirP), queries,
        "query_id", "terms", 5, "cosine")
    }
  }

  test("expansion serves ride the pruned path on an opted-in store, " +
      "bit-identically") {
    val dir = tmp("expprune")
    val (a, b, c) = skewDocs()
    // give x/y a shared prefix family via extra terms: xq/yq docs
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.buildVocab(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    // prefix 'x' expands to {x}; f* expands to the filler family
    val viaPrefix = rows(TextIndex.wildcardTopK(spark, dir, "x", 5))
    assert(TextIndex.lastServeRoute.get == "topKPruned",
      "expansion must ride the pruned path once the store opted in")
    assert(!TextIndex.lastPruneStats.get.delegated)
    assert(viaPrefix == rows(TextIndex.topK(spark, dir,
      TextIndex.expandPrefix(spark, dir, "x"), 5)))
    val viaSuffix = rows(TextIndex.suffixTopK(spark, dir, "1", 5))
    assert(viaSuffix == rows(TextIndex.topK(spark, dir,
      TextIndex.expandSuffix(spark, dir, "1"), 5)))
    assert(TextIndex.lastServeRoute.get == "topKPruned")
    val viaFuzzy = rows(TextIndex.fuzzyTopK(spark, dir, "x", 1, 5))
    assert(viaFuzzy == rows(TextIndex.topK(spark, dir,
      TextIndex.expandFuzzy(spark, dir, "x", 1), 5)))
    // batched wildcard rides the pruned batch
    val wq = Seq((0L, "x"), (1L, "f")).toDF("query_id", "prefix")
    val got = TextIndex.wildcardTopKBatch(spark, dir, wq,
      "query_id", "prefix", 5)
      .select($"query_id", $"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(TextIndex.lastServeRoute.get == "topKPrunedBatch")
    val loop = Seq(0L -> "x", 1L -> "f").flatMap { case (q, p) =>
      rows(TextIndex.wildcardTopK(spark, dir, p, 5))
        .map(r => (q, r._1, r._2, r._3))
    }
    assert(got.sortBy(t => (t._1, -t._4, t._2)) ==
      loop.sortBy(t => (t._1, -t._4, t._2)))
  }

  test("pending tombstones PRUNE (exact df/ctf via the point-lookup " +
      "subtraction), still skip, and only a huge set delegates") {
    val dir = tmp("tombprune")
    val (a, b, c) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    TextIndex.append(c, "doc_id", "text", dir, filesPerBucket = 1)
    // delete a dense doc AND a sparse one: df/ctf of both terms move,
    // and the dense θ band loses a member
    assert(TextIndex.delete(spark, dir, Seq(3L, 15L).toDF("doc_id"),
      "doc_id") == 2L)
    var skippedTotal = 0
    for (k <- Seq(1, 3, 5, 12); terms <- Seq(Seq("x"), Seq("x", "y"))) {
      assert(rows(TextIndex.topKPruned(spark, dir, terms, k)) ==
        rows(TextIndex.topK(spark, dir, terms, k)),
        s"BM25 under tombstones k=$k terms=$terms")
      val st = TextIndex.lastPruneStats.get
      assert(!st.delegated, s"must PRUNE through tombstones: $st")
      skippedTotal += st.skipped
      assert(rows(TextIndex.lmTopKPruned(spark, dir, terms, k)) ==
        rows(TextIndex.lmTopK(spark, dir, terms, k)),
        s"LM under tombstones k=$k terms=$terms")
      assert(!TextIndex.lastPruneStats.get.delegated)
    }
    assert(skippedTotal > 0,
      "the banded corpus must still skip with tombstones pending")
    // a tombstone set past the In-pushdown budget delegates, exactly
    val saved = TextIndex.tombstonePruneMaxIds
    TextIndex.tombstonePruneMaxIds = 1L
    try {
      assert(rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), 5)) ==
        rows(TextIndex.topK(spark, dir, Seq("x", "y"), 5)))
      assert(TextIndex.lastPruneStats.get.delegated)
    } finally TextIndex.tombstonePruneMaxIds = saved
    // compaction purges the tombstones; the zero-adjustment path and
    // the rebuilt caps keep agreeing
    TextIndex.compact(spark, dir, filesPerBucket = 1)
    assert(rows(TextIndex.topKPruned(spark, dir, Seq("x", "y"), 5)) ==
      rows(TextIndex.topK(spark, dir, Seq("x", "y"), 5)))
    assert(!TextIndex.lastPruneStats.get.delegated)
    // provably-absent terms: the exact empty answer
    assert(rows(TextIndex.topKPruned(spark, dir, Seq("zzz"), 5)).isEmpty)
  }

  test("a doc deleted AFTER the sidecar landed can never surface: the " +
      "probe and survivor reads anti-join pending tombstones") {
    val dir = tmp("tombtop")
    val (a, b, _) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b, "doc_id", "text", dir, filesPerBucket = 1)
    // the unpruned top-1 for x is a dense doc; delete it
    val top = rows(TextIndex.topK(spark, dir, Seq("x"), 1)).head._1
    assert(TextIndex.delete(spark, dir, Seq(top).toDF("doc_id"),
      "doc_id") == 1L)
    val got = rows(TextIndex.topKPruned(spark, dir, Seq("x"), 3))
    assert(!got.exists(_._1 == top),
      "tombstoned doc must not surface from the pruned serve")
    assert(got == rows(TextIndex.topK(spark, dir, Seq("x"), 3)))
    assert(!TextIndex.lastPruneStats.get.delegated)
  }

  /** A Zipf(1)-shaped corpus over 300 words: `w000` is the most
    * frequent. Deterministic per seed and id range. */
  private def zipfDocs(from: Long, until: Long, seed: Int): DataFrame = {
    val cdf = (1 to 300).map(1.0 / _).scanLeft(0.0)(_ + _).tail
    val rnd = new Random(seed)
    (from until until).map { i =>
      val n = 8 + rnd.nextInt(33)
      (i, Seq.fill(n) {
        val u = rnd.nextDouble() * cdf.last
        f"w${cdf.indexWhere(_ >= u)}%03d"
      }.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("the front door serves a store whose bucket files share no term " +
      "unpruned — appends bring pruning back, compact removes it again; " +
      "on such a store the pruned verbs skip nothing") {
    val dir = tmp("route")
    val base = zipfDocs(0, 400, 5)
    TextIndex.build(base, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.buildBlockStats(spark, dir)
    assert(TextIndex.zonesDisjoint(spark, dir),
      "a fresh range-clustered build keeps each bucket's zones disjoint")
    // head, torso and tail terms by document frequency in the corpus
    val byDf = base.select(explode(array_distinct(split($"text", " ")))
        .as("w")).groupBy($"w").count()
      .orderBy($"count".desc, $"w").as[(String, Long)].collect()
      .map(_._1).toSeq
    val single = Seq(byDf.take(2), Seq(byDf(20), byDf(45)),
      byDf.takeRight(2), Seq(byDf.head, byDf.last))
    val queries = single.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    def route = TextIndex.lastServeRoute.get
    /** Every front-door cell routes as `pruned` says; on the unpruned
      * route its rows must equal the explicit pruned verb's (on the
      * pruned route the front door IS that verb). The single query
      * mixes a head and a tail term; the batch covers all four. */
    def checkRoutes(pruned: Boolean, when: String): Unit = {
      val ts = single.last
      val bm = rows(TextIndex.serve(spark, Seq(dir), ts, 5))
      assert(route == (if (pruned) "topKPruned" else "topK"), when)
      if (!pruned)
        assert(bm == rows(TextIndex.topKPruned(spark, dir, ts, 5)), when)
      val lm = rows(TextIndex.serve(spark, Seq(dir), ts, 5, "lm"))
      assert(route == (if (pruned) "lmTopKPruned" else "lmTopK"), when)
      if (!pruned)
        assert(lm == rows(TextIndex.lmTopKPruned(spark, dir, ts, 5)), when)
      val bb = brows(TextIndex.serveBatch(spark, Seq(dir), queries,
        "query_id", "terms", 5))
      assert(route == (if (pruned) "topKPrunedBatch" else "topKBatch"), when)
      if (!pruned)
        assert(bb == brows(TextIndex.topKPrunedBatch(spark, dir, queries,
          "query_id", "terms", 5)), s"$when bm25 batch")
      val lb = brows(TextIndex.serveBatch(spark, Seq(dir), queries,
        "query_id", "terms", 5, "lm"))
      assert(route == (if (pruned) "lmTopKPrunedBatch" else "lmTopKBatch"),
        when)
      if (!pruned)
        assert(lb == brows(TextIndex.lmTopKPrunedBatch(spark, dir, queries,
          "query_id", "terms", 5)), s"$when lm batch")
    }
    checkRoutes(pruned = false, "fresh build")
    // the skip-nothing argument, observed: one file per term means every
    // relevant file survives the cap/θ rule, for every scorer and band
    for (ts <- single.take(3)) {
      rows(TextIndex.topKPruned(spark, dir, ts, 5))
      val bm = TextIndex.lastPruneStats.get
      assert(!bm.delegated && bm.relevantFiles > 0 && bm.skipped == 0,
        s"bm25 $ts: $bm")
      rows(TextIndex.lmTopKPruned(spark, dir, ts, 5))
      val lm = TextIndex.lastPruneStats.get
      assert(!lm.delegated && lm.relevantFiles > 0 && lm.skipped == 0,
        s"lm $ts: $lm")
    }
    TextIndex.append(zipfDocs(400, 460, 6), "doc_id", "text", dir)
    assert(!TextIndex.zonesDisjoint(spark, dir))
    checkRoutes(pruned = true, "after an append")
    TextIndex.compact(spark, dir, filesPerBucket = 2)
    assert(TextIndex.zonesDisjoint(spark, dir))
    checkRoutes(pruned = false, "after compact")
    // no zone sidecar: nothing is proven, the pruned route stays
    val zm = new org.apache.hadoop.fs.Path(s"$dir/_zonemap_multi")
    zm.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(zm, true)
    assert(!TextIndex.zonesDisjoint(spark, dir))
    assert(rows(TextIndex.serve(spark, Seq(dir), single.head, 5)) ==
      rows(TextIndex.topK(spark, dir, single.head, 5)))
    assert(route == "topKPruned")
  }

  test("BM25 params outside the monotone range delegate every pruned " +
      "cell to its unpruned twin") {
    // k1 = 0 and b = 1.5 break the caps' upper bound at (maxtf, mindl):
    // each pruned cell must serve through the exact unpruned one
    val (a, b, c) = skewDocs()
    val s0 = tmp("mono")
    TextIndex.build(a.unionAll(b).unionAll(c), "doc_id", "text", s0,
      nBuckets = 4, filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, s0)
    val (k1, bb) = (0.0, 1.5)
    val terms = Seq("x", "y")
    val queries = Seq((0L, Seq("x", "y")), (1L, Seq("x")))
      .toDF("query_id", "terms")
    def brows(df: DataFrame) =
      df.select($"query_id", $"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Long, Double)].collect().toSeq
    def delegated(cell: String): Unit =
      assert(TextIndex.lastPruneStats.exists(_.delegated),
        s"$cell must delegate: ${TextIndex.lastPruneStats}")
    assert(rows(TextIndex.topKPruned(spark, s0, terms, 5, k1, bb)) ==
      rows(TextIndex.topK(spark, s0, terms, 5, k1, bb)))
    delegated("topKPruned")
    assert(brows(TextIndex.topKPrunedBatch(spark, s0, queries,
        "query_id", "terms", 5, k1, bb)) ==
      brows(TextIndex.topKBatch(spark, s0, queries, "query_id", "terms",
        5, k1, bb)))
    delegated("topKPrunedBatch")
    // an opted-in fleet of one shard: the params alone must delegate
    val shards = Seq(s0)
    assert(rows(TextIndex.topKShardedPruned(spark, shards, terms, 5, k1,
        bb)) == rows(TextIndex.topKSharded(spark, shards, terms, 5, k1, bb)))
    delegated("topKShardedPruned")
    assert(brows(TextIndex.topKShardedPrunedBatch(spark, shards, queries,
        "query_id", "terms", 5, k1, bb)) ==
      brows(TextIndex.topKShardedBatch(spark, shards, queries,
        "query_id", "terms", 5, k1, bb)))
    delegated("topKShardedPrunedBatch")
  }

  test("LM pruned serve with every posting of a query term tombstoned " +
      "equals lmTopK (the ctf clamp)") {
    val dir = tmp("lmclamp")
    val (a, b, _) = skewDocs()
    TextIndex.build(a, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.append(b.unionAll(Seq((100L, "z x"), (101L, "z z y"))
      .toDF("doc_id", "text")), "doc_id", "text", dir, filesPerBucket = 1)
    // z lives only in docs 100 and 101: its sidecar ctf is all tombstoned
    assert(TextIndex.delete(spark, dir, Seq(100L, 101L).toDF("doc_id"),
      "doc_id") == 2L)
    assert(rows(TextIndex.lmTopKPruned(spark, dir, Seq("x", "z"), 5)) ==
      rows(TextIndex.lmTopK(spark, dir, Seq("x", "z"), 5)))
    assert(!TextIndex.lastPruneStats.get.delegated,
      "pending tombstones must still prune")
  }
}
