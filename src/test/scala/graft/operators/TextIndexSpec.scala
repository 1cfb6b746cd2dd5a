package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Contracts of the persisted BM25 postings store: a store-served
  * answer is bit-identical to the scan-everything [[Curation.bm25TopK]],
  * the append lifecycle equals a full rebuild, the serve prunes to the
  * query terms' buckets (and inside them, to w-zone-surviving files),
  * and the frozen bucket count survives appends.
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  // deterministic synthetic corpus: 60 docs, 5-12 words each
  private lazy val docs = {
    val rnd = new Random(11)
    (0L until 60L).map { i =>
      val n = 5 + rnd.nextInt(8)
      (i, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_tix_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Double)].collect().toSeq

  test("store-served topK is bit-identical to the scan-everything bm25TopK") {
    val dir = tmp("serve")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa")
    val served = rows(TextIndex.topK(spark, dir, terms, 10))
    val scanned = rows(Curation.bm25TopK(docs, "doc_id", "text", terms, 10))
    assert(served == scanned,
      "the store must reproduce the corpus-scan ranking exactly")
  }

  test("build + append == rebuild over the union (df/avgdl/N never skew)") {
    val dirInc = tmp("inc")
    val dirFull = tmp("full")
    TextIndex.build(docs.filter($"doc_id" < 40), "doc_id", "text", dirInc,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.append(docs.filter($"doc_id" >= 40), "doc_id", "text", dirInc,
      filesPerBucket = 2)
    TextIndex.build(docs, "doc_id", "text", dirFull, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("beta", "mu", "theta")
    assert(rows(TextIndex.topK(spark, dirInc, terms, 12)) ==
      rows(TextIndex.topK(spark, dirFull, terms, 12)),
      "an appended store must serve the rebuilt store's answer")
    // the frozen bucket layout and the stats bump both survived
    val (n, _, nb) = TextIndex.readStats(spark, dirInc)
    assert(n == 60L && nb == 4, s"stats sidecar after append: n=$n nb=$nb")
  }

  test("compaction shrinks an appended store and serves bit-identically") {
    val dir = tmp("compact")
    TextIndex.build(docs.filter($"doc_id" < 20), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.append(docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      "doc_id", "text", dir, filesPerBucket = 2)
    TextIndex.append(docs.filter($"doc_id" >= 40), "doc_id", "text", dir,
      filesPerBucket = 2)
    val terms = Seq("delta", "iota")
    val beforeRows = rows(TextIndex.topK(spark, dir, terms, 10))
    val (was, now) = TextIndex.compact(spark, dir, filesPerBucket = 2)
    assert(now < was, s"decayed store must shrink: $was -> $now")
    assert(rows(TextIndex.topK(spark, dir, terms, 10)) == beforeRows,
      "compaction must never change a serve")
    val (n, _, nb) = TextIndex.readStats(spark, dir)
    assert(n == 60L && nb == 4,
      s"corpus stats must survive the rewrite: n=$n nb=$nb")
  }

  test("serve prunes to the query terms' buckets and w-zone survivors") {
    val dir = tmp("prune")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val served = TextIndex.topK(spark, dir, Seq("gamma"), 5)
    served.collect(): Unit
    val dataFiles =
      graft.sinks.SkippingStore.listDataFileRelPaths(spark, dir).size
    val opened = graft.plans.PlanProbe.scannedFileCount(served)
    // one term hashes to ONE bucket; with 4 buckets x 2 files the scan
    // must open at most that bucket's files — strictly below the store
    assert(opened < dataFiles,
      s"opened $opened of $dataFiles — no pruning happened")
    assert(opened <= 2,
      s"a single term's serve must stay inside its own bucket ($opened files)")
  }

  test("positional store serves exact adjacency == phraseSearch scan") {
    val dir = tmp("pos")
    TextIndex.buildPositional(docs.filter($"doc_id" < 40), "doc_id", "text",
      dir, nBuckets = 4, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter($"doc_id" >= 40), "doc_id", "text",
      dir, filesPerBucket = 2)
    for (phrase <- Seq(Seq("alpha", "beta"), Seq("gamma", "gamma"),
        Seq("beta", "alpha", "mu"))) {
      val served = TextIndex.phraseSearch(spark, dir, phrase)
        .as[(Long, Long)].collect().toSeq.sorted
      val scanned = Curation.phraseSearch(docs, "doc_id", "text", phrase)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(served == scanned,
        s"phrase ${phrase.mkString(" ")}: store $served vs scan $scanned")
    }
    // the serve must stay inside the phrase terms' buckets
    val q = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
    val dataFiles =
      graft.sinks.SkippingStore.listDataFileRelPaths(spark, dir).size
    assert(graft.plans.PlanProbe.scannedFileCount(q) < dataFiles)
  }

  test("posting schemas never mix: append guards both directions") {
    val dir = tmp("guard")
    TextIndex.buildPositional(docs, "doc_id", "text", dir, nBuckets = 4)
    intercept[IllegalArgumentException] {
      TextIndex.append(docs.limit(5), "doc_id", "text", dir)
    }
    val dir2 = tmp("guard2")
    TextIndex.build(docs, "doc_id", "text", dir2, nBuckets = 4)
    intercept[IllegalArgumentException] {
      TextIndex.appendPositional(docs.limit(5), "doc_id", "text", dir2)
    }
  }

  test("absent query terms drop before any bucket opens; answers unchanged") {
    val dir = tmp("tfilter")
    TextIndex.build(docs.filter($"doc_id" < 40), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.append(docs.filter($"doc_id" >= 40), "doc_id", "text", dir,
      filesPerBucket = 2)
    // a garbage term contributes no posting and no score — dropping it
    // must be invisible in the answer
    val withGarbage =
      rows(TextIndex.topK(spark, dir, Seq("alpha", "qqzzneverseen"), 10))
    val liveOnly = rows(TextIndex.topK(spark, dir, Seq("alpha"), 10))
    assert(withGarbage == liveOnly,
      "a provably-absent term must not move the ranking")
    // ...and must not widen the scan beyond the live term's bucket
    val probe = TextIndex.topK(spark, dir, Seq("alpha", "qqzzneverseen"), 10)
    assert(graft.plans.PlanProbe.scannedFileCount(probe) <=
      graft.plans.PlanProbe.scannedFileCount(
        TextIndex.topK(spark, dir, Seq("alpha"), 10)),
      "the dead term's bucket must not be opened")
    // every term absent -> the exact empty answer, zero data files read
    val empty = TextIndex.topK(spark, dir, Seq("qqzz1", "qqzz2"), 10)
    assert(empty.count() == 0L)
    assert(graft.plans.PlanProbe.scannedFileCount(empty) == 0L,
      "an all-absent serve must answer without opening a single file")
  }

  test("phrase with any absent term answers empty without opening files") {
    val dir = tmp("tfilterpos")
    TextIndex.buildPositional(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val q = TextIndex.phraseSearch(spark, dir, Seq("alpha", "qqzznever"))
    assert(q.count() == 0L)
    assert(graft.plans.PlanProbe.scannedFileCount(q) == 0L,
      "one absent term means zero matches — no bucket may open")
  }

  test("batched serve is bit-identical to a per-query topK loop") {
    val dir = tmp("batch")
    TextIndex.build(docs.filter($"doc_id" < 40), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.append(docs.filter($"doc_id" >= 40), "doc_id", "text", dir,
      filesPerBucket = 2)
    val qsets = Seq(
      10L -> Seq("alpha", "kappa"),
      11L -> Seq("beta"),
      12L -> Seq("mu", "qqzzneverseen"),
      13L -> Seq("qqzz1", "qqzz2")) // all absent -> no rows at all
    val queries = qsets.toDF("query_id", "terms")
    val batch = TextIndex.topKBatch(spark, dir, queries, "query_id", "terms", 5)
      .select($"query_id", $"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4))).toMap
    for ((qid, terms) <- qsets) {
      val single = rows(TextIndex.topK(spark, dir, terms, 5))
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"query $qid (${terms.mkString(",")}): batch ${batch.get(qid)} " +
          s"vs per-query $single")
    }
  }

  test("stores predating the term filter degrade to filter-off, never a wrong skip") {
    val dir = tmp("prefilter")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    // rewrite `_corpus_stats` WITHOUT the tf_bits column — the exact
    // footprint of a store written before the filter existed
    val statsDir = s"$dir/_corpus_stats"
    val legacy = spark.read.parquet(statsDir)
      .select($"bid", $"n", $"sdl", $"nbuckets").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    spark.createDataFrame(legacy.toSeq)
      .toDF("bid", "n", "sdl", "nbuckets")
      .coalesce(1).write.mode("overwrite").parquet(statsDir)
    val served = rows(TextIndex.topK(spark, dir, Seq("alpha", "qqzz"), 10))
    val scanned =
      rows(Curation.bm25TopK(docs, "doc_id", "text", Seq("alpha", "qqzz"), 10))
    assert(served == scanned,
      "a pre-filter store must fall back to opening every term's bucket")
  }

  test("full compaction carries the positional marker; phrase serves survive") {
    val dir = tmp("poscomp")
    TextIndex.buildPositional(docs.filter($"doc_id" < 40), "doc_id", "text",
      dir, nBuckets = 4, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter($"doc_id" >= 40), "doc_id", "text",
      dir, filesPerBucket = 2)
    val before = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    val (was, now) = TextIndex.compact(spark, dir, filesPerBucket = 2)
    assert(now < was)
    val after = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(after == before,
      "compaction must preserve positions and the positional marker")
  }

  test("delete == rebuild on the survivors; unknown ids are ignored") {
    val dirDel = tmp("del")
    val dirSurv = tmp("delsurv")
    TextIndex.build(docs, "doc_id", "text", dirDel, nBuckets = 4,
      filesPerBucket = 2)
    // 999 doesn't exist — must not skew the subtraction
    val ids = Seq(3L, 7L, 21L, 999L).toDF("doc_id")
    assert(TextIndex.delete(spark, dirDel, ids, "doc_id") == 3L,
      "unknown ids must not be tombstoned")
    TextIndex.build(docs.filter(!$"doc_id".isin(3L, 7L, 21L)),
      "doc_id", "text", dirSurv, nBuckets = 4, filesPerBucket = 2)
    val terms = Seq("alpha", "kappa", "mu")
    assert(rows(TextIndex.topK(spark, dirDel, terms, 12)) ==
      rows(TextIndex.topK(spark, dirSurv, terms, 12)),
      "a deleted store must serve exactly a rebuild on the survivors")
  }

  test("batched serve anti-joins tombstones identically to the per-query serve") {
    val dir = tmp("delbatch")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.delete(spark, dir, Seq(1L, 2L, 4L).toDF("doc_id"), "doc_id")
    val qs = Seq((0L, Seq("alpha", "beta")), (1L, Seq("mu", "iota")))
      .toDF("qid", "terms")
    val batched = TextIndex.topKBatch(spark, dir, qs, "qid", "terms", 8)
      .select($"query_id", $"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val looped = Seq(Seq("alpha", "beta"), Seq("mu", "iota"))
      .zipWithIndex.flatMap { case (ts, i) =>
        rows(TextIndex.topK(spark, dir, ts, 8))
          .map { case (d, nt, sc) => (i.toLong, d, nt, sc) }
      }
    assert(batched == looped,
      "batched and per-query serves must agree on a deleted store")
  }

  test("positional delete: phraseSearch excludes tombstoned docs; purge preserves it") {
    val dir = tmp("delpos")
    TextIndex.buildPositional(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val all = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    assume(all.nonEmpty, "corpus must contain the phrase")
    val victim = all.head._1
    TextIndex.delete(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    val masked = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(masked == all.filterNot(_._1 == victim),
      "a tombstoned doc must not match a phrase")
    TextIndex.compact(spark, dir, filesPerBucket = 2)
    val purged = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(purged == masked, "the purge must serve bit-identically")
    assert(TextIndex.isPositional(spark, dir),
      "the purge must carry the positional marker")
  }

  test("delete without _doclen fails loud; compact materializes it") {
    val dir = tmp("nodoclen")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    // simulate a store written before the sidecar existed
    graft.sinks.HadoopSwap.deleteRecursive(spark, s"$dir/_doclen")
    val ids = Seq(5L).toDF("doc_id")
    assertThrows[IllegalArgumentException](
      TextIndex.delete(spark, dir, ids, "doc_id"))
    TextIndex.compact(spark, dir, filesPerBucket = 2)
    assert(TextIndex.delete(spark, dir, ids, "doc_id") == 1L,
      "compaction must materialize _doclen for bag-of-terms stores")
    val terms = Seq("alpha", "kappa")
    assert(rows(TextIndex.topK(spark, dir, terms, 10)) ==
      rows(Curation.bm25TopK(docs.filter($"doc_id" =!= 5L),
        "doc_id", "text", terms, 10)),
      "the rebuilt sidecar must price the delete exactly")
  }

  // docs ∪ {null text, empty text, whitespace-only text} — the
  // zero-/degenerate-posting edges the single-pass ingest must still
  // count: null text explodes to nothing (invisible in the written
  // postings, caught by the observed-count residual); "" yields the
  // one "" token (dl = 1, a real posting); "  " splits to two empty
  // tokens (dl = 2; real postings in a bag store, token-free in a
  // positional one).
  private lazy val edgy = docs.unionByName(
    Seq((100L, null.asInstanceOf[String]), (101L, ""), (102L, "  "))
      .toDF("doc_id", "text"))

  test("single-pass ingest counts null/empty-text docs exactly (stats, doclen, delete)") {
    val dir = tmp("edge")
    TextIndex.build(edgy.filter($"doc_id" =!= 102L), "doc_id", "text", dir,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.append(edgy.filter($"doc_id" === 102L), "doc_id", "text", dir,
      filesPerBucket = 2)
    val (n, sdl, _) = TextIndex.readStats(spark, dir)
    // n counts all 63 docs; null text adds 0 tokens, "" adds 1, "  " 2
    val want = docs.select(sum(size(split($"text", "\\s+")).cast("long")))
      .head().getLong(0)
    assert(n == 63L && sdl == want + 3L, s"stats after edge ingest: $n/$sdl")
    val terms = Seq("alpha", "kappa")
    assert(rows(TextIndex.topK(spark, dir, terms, 10)) ==
      rows(Curation.bm25TopK(edgy, "doc_id", "text", terms, 10)),
      "store and scan must agree on the degenerate corpus")
    // the null-text doc made it into _doclen (the residual pass), so
    // its delete prices exactly: n drops by one, sdl is untouched
    assert(TextIndex.delete(spark, dir, Seq(100L).toDF("doc_id"),
      "doc_id") == 1L, "the null-text doc must be deletable")
    val (n2, sdl2, _) = TextIndex.readStats(spark, dir)
    assert(n2 == 62L && sdl2 == sdl, s"after null-doc delete: $n2/$sdl2")
    assert(rows(TextIndex.topK(spark, dir, terms, 10)) ==
      rows(Curation.bm25TopK(edgy.filter($"doc_id" =!= 100L),
        "doc_id", "text", terms, 10)),
      "the delete must serve the rebuilt-on-survivors answer")
  }

  test("positional ingest counts token-free docs; ranking serves from ONE positional store") {
    val dir = tmp("edgepos")
    TextIndex.buildPositional(edgy.filter($"doc_id" < 102L), "doc_id",
      "text", dir, nBuckets = 4, filesPerBucket = 2)
    TextIndex.appendPositional(edgy.filter($"doc_id" === 102L), "doc_id",
      "text", dir, filesPerBucket = 2)
    val (n, sdl, _) = TextIndex.readStats(spark, dir)
    val base = docs.select(sum(size(split($"text", "\\s+")).cast("long")))
      .head().getLong(0)
    // dl stays the UNfiltered count: "" is 1 token, "  " is 2
    assert(n == 63L && sdl == base + 3L,
      s"positional stats must match the bag tokenizer's: $n/$sdl")
    // token-free docs write `""` postings since the stats unification
    // (so _doclen derives from the written files, no residual pass):
    // deleting the whitespace-only doc subtracts its exact unfiltered dl
    assert(TextIndex.delete(spark, dir, Seq(102L).toDF("doc_id"),
      "doc_id") == 1L)
    val (n2, sdl2, _) = TextIndex.readStats(spark, dir)
    assert(n2 == 62L && sdl2 == base + 1L,
      s"after whitespace-doc delete: $n2/$sdl2")
    // a phrase serve is untouched by the degenerate docs
    val hits = TextIndex.phraseSearch(spark, dir, Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(hits == Curation.phraseSearch(docs, "doc_id", "text",
      Seq("alpha", "beta")).as[(Long, Long)].collect().toSeq.sorted)
    // STATS UNIFICATION: the positional postings carry the bag
    // contract's exact (w, tf, dl) — `""` postings included, with
    // blanked position lists — so the ranking serves accept the
    // positional store and answer bit-identically to the scan path
    // and to a bag store over the same survivors. The `""` query term
    // is the contract's sharpest edge: doc 101 ("") must score.
    val survivors = edgy.filter($"doc_id" =!= 102L)
    val terms = Seq("alpha", "beta", "")
    assert(rows(TextIndex.topK(spark, dir, terms, 10)) ==
      rows(Curation.bm25TopK(survivors, "doc_id", "text", terms, 10)),
      "positional-store BM25 must match the scan path, '' term included")
    assert(rows(TextIndex.topK(spark, dir, terms, 10))
        .map(_._1).contains(101L),
      "the empty-token doc must be reachable through its '' posting")
    val bag = tmp("edgeposbag")
    TextIndex.build(survivors, "doc_id", "text", bag,
      nBuckets = 4, filesPerBucket = 2)
    assert(TextIndex.lmTopK(spark, dir, terms, 10)
        .as[(Long, Long, Double)].collect().toSeq ==
      TextIndex.lmTopK(spark, bag, terms, 10)
        .as[(Long, Long, Double)].collect().toSeq,
      "positional-store LM ranking must match the bag store's")
    val qs = Seq((1L, Seq("alpha", "beta")), (2L, Seq("", "mu")))
      .toDF("query_id", "terms")
    assert(TextIndex.topKBatch(spark, dir, qs, "query_id", "terms", 5)
        .as[(Long, Long, Long, Double)].collect().toSeq ==
      TextIndex.topKBatch(spark, bag, qs, "query_id", "terms", 5)
        .as[(Long, Long, Long, Double)].collect().toSeq,
      "batched BM25 must be layout-independent")
  }

  test("batched phrase serve == per-phrase loop; absent-term queries drop whole") {
    val dir = tmp("phbatch")
    TextIndex.buildPositional(docs.filter($"doc_id" < 40), "doc_id", "text",
      dir, nBuckets = 4, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter($"doc_id" >= 40), "doc_id",
      "text", dir, filesPerBucket = 2)
    val phrases = Seq(
      (1L, Seq("alpha", "beta")),
      (2L, Seq("gamma", "gamma")),
      (3L, Seq("beta", "alpha", "mu")),
      (4L, Seq("alpha", "qqzzabsent"))) // provably absent term
    val batched = TextIndex.phraseSearchBatch(spark, dir,
        phrases.toDF("query_id", "phrase"), "query_id", "phrase")
      .as[(Long, Long, Long)].collect().toSeq
    val looped = phrases.flatMap { case (qid, ph) =>
      if (ph.contains("qqzzabsent")) Seq.empty
      else TextIndex.phraseSearch(spark, dir, ph)
        .as[(Long, Long)].collect().toSeq.map(r => (qid, r._1, r._2))
    }.sorted
    assert(batched == looped,
      "the batched serve must equal the per-phrase loop, query by query")
    assert(looped.nonEmpty, "fixture must produce at least one match")
    // a tombstoned doc drops from every query of the batch
    val victim = looped.head._2
    TextIndex.delete(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    val afterDel = TextIndex.phraseSearchBatch(spark, dir,
        phrases.toDF("query_id", "phrase"), "query_id", "phrase")
      .as[(Long, Long, Long)].collect().toSeq
    assert(afterDel == looped.filterNot(_._2 == victim))
    // 1-token phrases refuse, like the single-phrase API
    assertThrows[IllegalArgumentException](
      TextIndex.phraseSearchBatch(spark, dir,
        Seq((9L, Seq("alpha"))).toDF("query_id", "phrase"),
        "query_id", "phrase"))
    // a NULL phrase refuses loudly too (size(NULL) is NULL, which
    // would slip an unguarded < 2 check and silently drop the query)
    assertThrows[IllegalArgumentException](
      TextIndex.phraseSearchBatch(spark, dir,
        Seq((9L, null: Seq[String])).toDF("query_id", "phrase"),
        "query_id", "phrase"))
  }

  test("containingAll: AND semantics on both store kinds; absent term empties; tombstones mask") {
    val dir = tmp("conj")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val want = docs
      .filter(array_contains(split($"text", "\\s+"), "alpha") &&
        array_contains(split($"text", "\\s+"), "kappa"))
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(want.nonEmpty, "fixture must have conjunctive matches")
    def got() = TextIndex.containingAll(spark, dir, Seq("alpha", "kappa"))
      .as[Long].collect().toSeq
    assert(got() == want)
    assert(TextIndex.containingAll(spark, dir,
      Seq("alpha", "qqzzabsent")).count() == 0L)
    TextIndex.delete(spark, dir, Seq(want.head).toDF("doc_id"), "doc_id")
    assert(got() == want.tail, "tombstoned docs must not match")
    // the positional store's postings serve the same AND
    val posDir = tmp("conjpos")
    TextIndex.buildPositional(docs, "doc_id", "text", posDir, nBuckets = 4)
    assert(TextIndex.containingAll(spark, posDir, Seq("alpha", "kappa"))
      .as[Long].collect().toSeq == want)
  }

  test("contextWindows: edge clipping, absent terms, tombstones") {
    val dir = tmp("kwic")
    val docs2 = Seq(
      (0L, "hit a b c"),          // match at 0: left edge clips
      (1L, "a b c hit"),          // match at 3: right edge clips
      (2L, "a hit b hit c")).toDF("doc_id", "text") // two matches
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    def win() = TextIndex.contextWindows(spark, dir, docs2, "doc_id",
      "text", "hit", width = 2).as[(Long, Long, String)].collect().toSeq
    assert(win() == Seq(
      (0L, 0L, "hit a b"),
      (1L, 3L, "b c hit"),
      (2L, 1L, "a hit b hit"),
      (2L, 3L, "hit b hit c")), win().toString)
    assert(TextIndex.contextWindows(spark, dir, docs2, "doc_id", "text",
      "qqzzabsent", 2).count() == 0L)
    TextIndex.delete(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    assert(win().map(_._1).toSet == Set(0L, 1L),
      "tombstoned docs must not produce windows")
  }

  test("topKExpanded: PRF expansion is deterministic; fbTerms=0 is plain topK") {
    val dir = tmp("prf")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa")
    // zero expansion terms degenerates to the plain serve
    assert(rows(TextIndex.topKExpanded(spark, dir, docs, "doc_id", "text",
        terms, 10, fbDocs = 5, fbTerms = 0)) ==
      rows(TextIndex.topK(spark, dir, terms, 10)))
    // the expansion equals a hand-derived scan recomputation: top-5
    // feedback docs' most frequent non-seed terms, (tf desc, w) ties
    val fbIds = TextIndex.topK(spark, dir, terms, 5)
      .select($"doc_id").as[Long].collect().toSet
    val expTerms = docs.filter($"doc_id".isin(fbIds.toSeq: _*))
      .select(explode(split($"text", "\\s+")).as("w"))
      .filter($"w" =!= "" && !$"w".isin(terms: _*))
      .groupBy($"w").agg(count(lit(1)).as("tf"))
      .orderBy($"tf".desc, $"w").limit(2)
      .as[(String, Long)].collect().map(_._1).toSeq
    assert(rows(TextIndex.topKExpanded(spark, dir, docs, "doc_id", "text",
        terms, 10, fbDocs = 5, fbTerms = 2)) ==
      rows(TextIndex.topK(spark, dir, terms ++ expTerms, 10)),
      "the expanded serve must equal topK over seed + mined terms")
  }

  test("nearSearch: windowed pair counts, ordered gaps, absent terms, tombstones") {
    val dir = tmp("near")
    // hand-built corpus with known position geometry
    val docs2 = Seq(
      (0L, "a x b"),        // |a-b| = 2
      (1L, "b x x a"),      // |a-b| = 3, b BEFORE a
      (2L, "a b x a x b"),  // pairs within 2: (0,1),(3,5); within 3: +(1,3)... counted below
      (3L, "a x x x x b"),  // |a-b| = 5
      (4L, "c d")).toDF("doc_id", "text")
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    def near(slop: Int, ordered: Boolean = false) =
      TextIndex.nearSearch(spark, dir, "a", "b", slop, ordered)
        .as[(Long, Long)].collect().toSeq.sorted
    // unordered slop 2: doc0 (1 pair); doc2 positions a@{0,3} b@{1,5}:
    // |0-1|=1, |3-5|=2, |3-1|=2 -> 3 pairs
    assert(near(2) == Seq((0L, 1L), (2L, 3L)), near(2).toString)
    // unordered slop 3 adds doc1 (|3-0|=3) and doc2's |0-1|,|3-1|,|3-5| stay 3
    assert(near(3) == Seq((0L, 1L), (1L, 1L), (2L, 3L)))
    // ordered (b after a): doc1's b-before-a pair drops; doc2 keeps
    // a@0->b@1 and a@3->b@5; doc3 needs slop 5
    assert(near(3, ordered = true) == Seq((0L, 1L), (2L, 2L)))
    assert(near(5, ordered = true) == Seq((0L, 1L), (2L, 3L), (3L, 1L)))
    // a provably-absent term answers empty without error
    assert(TextIndex.nearSearch(spark, dir, "a", "qqzzabsent", 5).count() == 0L)
    // tombstoned docs drop from the serve
    TextIndex.delete(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    assert(near(2) == Seq((0L, 1L)))
    // degenerate shapes refuse loud
    assertThrows[IllegalArgumentException](
      TextIndex.nearSearch(spark, dir, "a", "a", 2))
    assertThrows[IllegalArgumentException](
      TextIndex.nearSearch(spark, dir, "a", "b", 0))
  }

  test("batched NEAR == per-query loop; absent-term queries drop; degenerates refuse") {
    val dir = tmp("nearbatch")
    val docs2 = Seq(
      (0L, "a x b"),
      (1L, "b x x a"),
      (2L, "a b x a x b"),
      (3L, "a x x x x b"),
      (4L, "c d x a b")).toDF("doc_id", "text")
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    val qs = Seq(
      (1L, "a", "b", 2),
      (2L, "a", "b", 3),
      (3L, "c", "d", 1),
      (4L, "a", "qqzzabsent", 5)) // provably absent — drops whole
    val batched = TextIndex.nearSearchBatch(spark, dir,
        qs.toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop")
      .as[(Long, Long, Long)].collect().toSeq
    val looped = qs.flatMap { case (qid, a, b, slop) =>
      if (b == "qqzzabsent") Seq.empty
      else TextIndex.nearSearch(spark, dir, a, b, slop)
        .as[(Long, Long)].collect().toSeq.map(r => (qid, r._1, r._2))
    }.sorted
    assert(batched == looped,
      "the batched NEAR serve must equal the per-query loop")
    assert(looped.nonEmpty, "fixture must produce at least one match")
    // ordered flag applies batch-wide, matching the single API
    val bOrd = TextIndex.nearSearchBatch(spark, dir,
        qs.take(2).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop", ordered = true)
      .as[(Long, Long, Long)].collect().toSeq
    val lOrd = qs.take(2).flatMap { case (qid, a, b, slop) =>
      TextIndex.nearSearch(spark, dir, a, b, slop, ordered = true)
        .as[(Long, Long)].collect().toSeq.map(r => (qid, r._1, r._2))
    }.sorted
    assert(bOrd == lOrd)
    // tombstones mask every query of the batch
    TextIndex.delete(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    assert(TextIndex.nearSearchBatch(spark, dir,
        qs.toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop")
      .as[(Long, Long, Long)].collect().toSeq ==
      looped.filterNot(_._2 == 2L))
    // degenerate rows refuse loud: same-term, slop < 1, NULL term
    assertThrows[IllegalArgumentException](
      TextIndex.nearSearchBatch(spark, dir,
        Seq((9L, "a", "a", 2)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
    assertThrows[IllegalArgumentException](
      TextIndex.nearSearchBatch(spark, dir,
        Seq((9L, "a", "b", 0)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
    assertThrows[IllegalArgumentException](
      TextIndex.nearSearchBatch(spark, dir,
        Seq((9L, "a", null: String, 2)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
  }

  test("batched KWIC == per-query loop; per-query widths; absent terms drop; tombstones mask") {
    val dir = tmp("kwicbatch")
    val docs2 = Seq(
      (0L, "hit a b c"),
      (1L, "a b c hit"),
      (2L, "a hit b hit c"),
      (3L, "x y z")).toDF("doc_id", "text")
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    val qs = Seq((1L, "hit", 2), (2L, "hit", 1), (3L, "b", 0),
      (4L, "qqzzabsent", 3))
    def batched() = TextIndex.kwicBatch(spark, dir, docs2, "doc_id",
        "text", qs.toDF("query_id", "term", "width"),
        "query_id", "term", "width")
      .as[(Long, Long, Long, String)].collect().toSeq
    val looped = qs.flatMap { case (qid, term, width) =>
      if (term == "qqzzabsent") Seq.empty
      else TextIndex.contextWindows(spark, dir, docs2, "doc_id", "text",
          term, width)
        .as[(Long, Long, String)].collect().toSeq
        .map(r => (qid, r._1, r._2, r._3))
    }.sorted
    assert(batched() == looped,
      "the batched KWIC serve must equal the per-query loop")
    assert(looped.nonEmpty, "fixture must produce at least one match")
    // tombstones mask every query of the batch
    TextIndex.delete(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    assert(batched() == looped.filterNot(_._2 == 2L))
    // degenerate rows refuse loud: NULL term, negative width
    assertThrows[IllegalArgumentException](
      TextIndex.kwicBatch(spark, dir, docs2, "doc_id", "text",
        Seq((9L, null: String, 2)).toDF("query_id", "term", "width"),
        "query_id", "term", "width"))
    assertThrows[IllegalArgumentException](
      TextIndex.kwicBatch(spark, dir, docs2, "doc_id", "text",
        Seq((9L, "hit", -1)).toDF("query_id", "term", "width"),
        "query_id", "term", "width"))
  }

  test("batched containingAll == per-query loop on both store kinds; tombstones mask") {
    val dir = tmp("conjbatch")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val qs = Seq(
      (1L, Seq("alpha", "kappa")),
      (2L, Seq("beta", "mu", "theta")),
      (3L, Seq("alpha", "alpha")), // dup terms collapse, like the single API
      (4L, Seq("alpha", "qqzzabsent")))
    def batched(d: String) = TextIndex.containingAllBatch(spark, d,
        qs.toDF("query_id", "terms"), "query_id", "terms")
      .as[(Long, Long)].collect().toSeq
    def looped(d: String) = qs.flatMap { case (qid, terms) =>
      if (terms.contains("qqzzabsent")) Seq.empty
      else TextIndex.containingAll(spark, d, terms)
        .as[Long].collect().toSeq.map(doc => (qid, doc))
    }.sorted
    assert(batched(dir) == looped(dir),
      "the batched containment serve must equal the per-query loop")
    assert(looped(dir).nonEmpty, "fixture must produce matches")
    // positional stores serve containment identically
    val posDir = tmp("conjbatchpos")
    TextIndex.buildPositional(docs, "doc_id", "text", posDir, nBuckets = 4)
    assert(batched(posDir) == looped(posDir))
    // tombstones mask every query of the batch
    val victim = looped(dir).head._2
    TextIndex.delete(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    assert(batched(dir) == looped(dir).filterNot(_._2 == victim))
    // degenerate rows refuse loud: NULL terms, empty terms
    assertThrows[IllegalArgumentException](
      TextIndex.containingAllBatch(spark, dir,
        Seq((9L, null: Seq[String])).toDF("query_id", "terms"),
        "query_id", "terms"))
    assertThrows[IllegalArgumentException](
      TextIndex.containingAllBatch(spark, dir,
        Seq((9L, Seq.empty[String])).toDF("query_id", "terms"),
        "query_id", "terms"))
  }

  test("batched PRF == per-query topKExpanded loop; expansion never hits the driver") {
    val dir = tmp("prfbatch")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val qs = Seq(
      (1L, Seq("alpha", "kappa")),
      (2L, Seq("beta", "mu")),
      (3L, Seq("theta")))
    val batched = TextIndex.topKExpandedBatch(spark, dir, docs, "doc_id",
        "text", qs.toDF("query_id", "terms"), "query_id", "terms",
        k = 8, fbDocs = 4, fbTerms = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val looped = qs.flatMap { case (qid, terms) =>
      TextIndex.topKExpanded(spark, dir, docs, "doc_id", "text", terms,
          k = 8, fbDocs = 4, fbTerms = 2)
        .select($"doc_id", $"n_terms", $"score")
        .as[(Long, Long, Double)].collect().toSeq
        .map(r => (qid, r._1, r._2, r._3))
    }
    // same rows per query; the loop's order within a query is already
    // (score desc, doc_id), the batch orders by query first
    assert(batched == looped.sortBy(r => (r._1, -r._4, r._2)),
      "the batched PRF serve must equal the per-query loop")
    assert(looped.nonEmpty, "fixture must produce matches")
    // fbTerms=0 degrades to plain batched BM25, like the single API
    val plain = TextIndex.topKExpandedBatch(spark, dir, docs, "doc_id",
        "text", qs.toDF("query_id", "terms"), "query_id", "terms",
        k = 8, fbDocs = 4, fbTerms = 0)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val plainWant = TextIndex.topKBatch(spark, dir,
        qs.toDF("query_id", "terms"), "query_id", "terms", 8)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(plain == plainWant, "fbTerms=0 must be plain batched BM25")
    // degenerate rows refuse loud
    assertThrows[IllegalArgumentException](
      TextIndex.topKExpandedBatch(spark, dir, docs, "doc_id", "text",
        Seq((9L, Seq.empty[String])).toDF("query_id", "terms"),
        "query_id", "terms", 5))
  }

  test("notNearSearch: clear-occurrence counts, absent exclusion, tombstones") {
    val dir = tmp("spannot")
    val docs2 = Seq(
      (0L, "a x b"),            // a@0, b@2: within 2 -> not clear
      (1L, "a x x x x x b"),    // a@0, b@6: clear at slop 2
      (2L, "a b x x x a"),      // a@0 blocked, a@5 clear (b@1, slop 2)
      (3L, "a a a"),            // no b: all 3 clear
      (4L, "b c")).toDF("doc_id", "text")
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    def spanNot(slop: Int) =
      TextIndex.notNearSearch(spark, dir, "a", "b", slop)
        .as[(Long, Long)].collect().toSeq
    assert(spanNot(2) == Seq((1L, 1L), (2L, 1L), (3L, 3L)), spanNot(2).toString)
    // wider slop blocks doc1's (|0-6|=6) and doc2's (|5-1|=4) too
    assert(spanNot(6) == Seq((3L, 3L)))
    // an exclusion term provably absent means every occurrence is clear
    assert(TextIndex.notNearSearch(spark, dir, "a", "qqzzabsent", 3)
      .as[(Long, Long)].collect().toSeq ==
      Seq((0L, 1L), (1L, 1L), (2L, 2L), (3L, 3L)))
    // an absent KEPT term answers empty
    assert(TextIndex.notNearSearch(spark, dir, "qqzzabsent", "b", 3)
      .count() == 0L)
    // tombstones mask
    TextIndex.delete(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    assert(spanNot(2) == Seq((1L, 1L), (2L, 1L)))
    assertThrows[IllegalArgumentException](
      TextIndex.notNearSearch(spark, dir, "a", "a", 2))
  }

  test("lmTopK: Dirichlet scores equal a corpus recomputation; tombstones rebuild stats") {
    val dir = tmp("lmrank")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa")
    val mu = 2000.0
    // recompute the exact formula from the corpus frame
    def want(corpus: org.apache.spark.sql.DataFrame) = {
      val b2 = corpus.select($"doc_id",
        split($"text", "\\s+").as("toks"))
        .withColumn("dl", size($"toks").cast("long"))
      val c = b2.agg(sum($"dl")).head().getLong(0).toDouble
      val tf = b2.select($"doc_id", $"dl", explode($"toks").as("w"))
        .filter($"w".isin(terms: _*))
        .groupBy($"doc_id", $"dl", $"w").agg(count(lit(1)).as("tf"))
      val ctf = tf.groupBy($"w").agg(sum($"tf").cast("double").as("ctf"))
      tf.join(ctf, Seq("w"))
        .withColumn("cc",
          round(log(lit(1.0) + $"tf".cast("double") * c /
            (lit(mu) * $"ctf")), 6).cast("decimal(28,6)") +
          round(log(lit(mu) / ($"dl".cast("double") + mu)), 6)
            .cast("decimal(28,6)"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"), sum($"cc").cast("double").as("score"))
        .orderBy($"score".desc, $"doc_id").limit(10)
        .as[(Long, Long, Double)].collect().toSeq
    }
    def served() = TextIndex.lmTopK(spark, dir, terms, 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(served() == want(docs),
      "the store-served LM ranking must equal the corpus recomputation")
    // tombstoned docs drop AND their mass leaves ctf/|C| exactly
    val victim = served().head._1
    TextIndex.delete(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    assert(served() == want(docs.filter($"doc_id" =!= victim)),
      "after a delete the LM stats must equal a survivor rebuild")
    // absent terms prune; all-absent answers empty
    assert(TextIndex.lmTopK(spark, dir, Seq("qqzzabsent"), 5).count() == 0L)
  }

  test("batched SpanNot == per-query loop; role-aware Bloom; tombstones mask; degenerates refuse") {
    val dir = tmp("spannotbatch")
    val docs2 = Seq(
      (0L, "a x b"),
      (1L, "a x x x x x b"),
      (2L, "a b x x x a"),
      (3L, "a a a"),
      (4L, "b c")).toDF("doc_id", "text")
    TextIndex.buildPositional(docs2, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 1)
    val qs = Seq(
      (1L, "a", "b", 2),
      (2L, "a", "b", 6),
      (3L, "a", "qqzzabsent", 3), // absent EXCLUSION: all a clear
      (4L, "qqzzabsent", "b", 3), // absent KEPT term: query drops whole
      (5L, "c", "a", 1))
    def batched() = TextIndex.notNearSearchBatch(spark, dir,
        qs.toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop")
      .as[(Long, Long, Long)].collect().toSeq
    def looped() = qs.flatMap { case (qid, a, b, slop) =>
      TextIndex.notNearSearch(spark, dir, a, b, slop)
        .as[(Long, Long)].collect().toSeq.map(r => (qid, r._1, r._2))
    }.sorted
    assert(batched() == looped(),
      "the batched SpanNot serve must equal the per-query loop")
    assert(batched().exists(_._1 == 3L),
      "an absent exclusion term must keep its query alive (role-aware)")
    assert(!batched().exists(_._1 == 4L))
    // tombstones mask every query of the batch
    TextIndex.delete(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    assert(batched() == looped())
    // degenerate rows refuse loud: same-term, slop < 1, NULL term
    assertThrows[IllegalArgumentException](
      TextIndex.notNearSearchBatch(spark, dir,
        Seq((9L, "a", "a", 2)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
    assertThrows[IllegalArgumentException](
      TextIndex.notNearSearchBatch(spark, dir,
        Seq((9L, "a", "b", 0)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
    assertThrows[IllegalArgumentException](
      TextIndex.notNearSearchBatch(spark, dir,
        Seq((9L, null: String, "b", 2)).toDF("query_id", "a", "b", "slop"),
        "query_id", "a", "b", "slop"))
  }

  test("batched LM ranking == per-query lmTopK loop on both store kinds; tombstones mask") {
    val dir = tmp("lmbatch")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val qs = Seq(
      (1L, Seq("alpha", "kappa")),
      (2L, Seq("beta", "mu", "theta")),
      (3L, Seq("qqzzabsent"))) // all-absent query serves no rows
    def batched(d: String) = TextIndex.lmTopKBatch(spark, d,
        qs.toDF("query_id", "terms"), "query_id", "terms", 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    def looped(d: String) = qs.flatMap { case (qid, terms) =>
      TextIndex.lmTopK(spark, d, terms, 10)
        .as[(Long, Long, Double)].collect().toSeq
        .map(r => (qid, r._1, r._2, r._3))
    }.sortBy(r => (r._1, -r._4, r._2))
    assert(batched(dir) == looped(dir),
      "the batched LM serve must equal the per-query loop")
    assert(batched(dir).nonEmpty, "fixture must produce matches")
    assert(!batched(dir).exists(_._1 == 3L))
    // a positional store serves LM identically (stats unification)
    val posDir = tmp("lmbatchpos")
    TextIndex.buildPositional(docs, "doc_id", "text", posDir, nBuckets = 4)
    assert(batched(posDir) == looped(dir),
      "batched LM must be layout-independent")
    // tombstones mask AND the collection stats follow the survivors
    val victim = batched(dir).head._2
    TextIndex.delete(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    assert(batched(dir) == looped(dir),
      "after a delete the batched LM must equal the per-query loop " +
        "on the survivors")
  }

  test("phrase fold runs rarest-term-first from the df sketch; answers unchanged") {
    val dir = tmp("rarest")
    // skewed fixture: 'alpha' in every doc, 'raretok' in two
    val docs2 = (0L until 50L).map(i =>
      (i, if (i < 2) "alpha raretok tail" else "alpha beta tail"))
      .toDF("doc_id", "text")
    TextIndex.buildPositional(docs2.filter($"doc_id" < 30), "doc_id",
      "text", dir, nBuckets = 4, filesPerBucket = 2)
    TextIndex.appendPositional(docs2.filter($"doc_id" >= 30), "doc_id",
      "text", dir, filesPerBucket = 2)
    // the sketch orders the fold: the rare slot leads even though the
    // phrase writes the common term first
    val order = TextIndex.phraseSlotOrder(spark, dir,
      Seq("alpha", "raretok"))
    assert(order.map(_._1) == Seq("raretok", "alpha"),
      s"fold must start at the estimated-rarest term, got $order")
    // and the reordered fold is bit-identical to the corpus scan
    val served = TextIndex.phraseSearch(spark, dir, Seq("alpha", "raretok"))
      .as[(Long, Long)].collect().toSeq.sorted
    val scanned = Curation.phraseSearch(docs2, "doc_id", "text",
        Seq("alpha", "raretok"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(served == scanned && served.map(_._1) == Seq(0L, 1L))
  }

  test("_corpus_stats folds on the file-count threshold; totals, filter, and replay gate survive") {
    val dir = tmp("fold")
    val mk = (i: Long) => Seq((i, s"alpha beta w$i")).toDF("doc_id", "text")
    TextIndex.build(mk(0L), "doc_id", "text", dir, nBuckets = 4,
      marker = Some(0L))
    // 70 marker appends cross the 64-file threshold mid-stream — the
    // ingest folds the sidecar itself; later appends stay append-only
    (1L to 70L).foreach(i =>
      TextIndex.append(mk(i), "doc_id", "text", dir, marker = Some(i)))
    val fs = graft.sinks.HadoopSwap.fs(spark, dir)
    val statFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_corpus_stats"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(statFiles <= 10,
      s"71 applied batches must fold to a bounded stats read ($statFiles files)")
    // exact totals and the frozen bucket count survive the fold
    val (n, sdl, nb) = TextIndex.readStats(spark, dir)
    assert(n == 71L && sdl == 3 * 71L && nb == 4, s"after fold: $n/$sdl/$nb")
    // the OR'd term filter survives: present terms found, absent pruned
    val hit = TextIndex.topK(spark, dir, Seq("w33"), 3).collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 33L)
    assert(TextIndex.topK(spark, dir, Seq("nosuchterm"), 3).count() == 0L)
    // replay gate: a redelivery of ANY folded bid must skip, not
    // double-count (the fold row's hwm answers for every swallowed bid)
    TextIndex.healBatch(mk(33L), "doc_id", "text", dir, batchId = 33L,
      nBuckets = 4)
    TextIndex.healBatch(mk(70L), "doc_id", "text", dir, batchId = 70L,
      nBuckets = 4)
    assert(TextIndex.readStats(spark, dir) == ((71L, 3 * 71L, 4)),
      "replays of folded bids must not re-add their stats rows")
    // and the serve is still the rebuild-on-everything answer
    val all = (0L to 70L).map(i => (i, s"alpha beta w$i"))
      .toDF("doc_id", "text")
    assert(rows(TextIndex.topK(spark, dir, Seq("alpha", "w7"), 5)) ==
      rows(Curation.bm25TopK(all, "doc_id", "text", Seq("alpha", "w7"), 5)))
  }

  test("fold crash between swap renames heals: stats restore, replays never re-seed") {
    val dir = tmp("foldcrash")
    TextIndex.build(docs.filter($"doc_id" < 30), "doc_id", "text", dir,
      nBuckets = 4, marker = Some(0L))
    TextIndex.append(docs.filter($"doc_id" >= 30), "doc_id", "text", dir,
      marker = Some(1L))
    val want = TextIndex.readStats(spark, dir)
    val side = new org.apache.hadoop.fs.Path(s"$dir/_corpus_stats")
    val fs = graft.sinks.HadoopSwap.fs(spark, dir)
    def crash(stamp: Long): Unit = {
      // simulate maybeFoldStats dying between swapInto's two renames:
      // the folded tmp is fully written, the live dir renamed aside,
      // the tmp NOT yet renamed in — no live `_corpus_stats` remains
      val fold = new org.apache.hadoop.fs.Path(s"$dir/_corpus_stats.fold-$stamp")
      org.apache.hadoop.fs.FileUtil.copy(fs, side, fs, fold, false, false,
        spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(side, new org.apache.hadoop.fs.Path(
        s"$dir/_corpus_stats.old-$stamp")))
      assert(!fs.exists(side))
    }
    crash(100L)
    // readStats restores the aside history and answers unchanged
    assert(TextIndex.readStats(spark, dir) == want,
      "readStats must heal the fold-crash window from the aside dir")
    assert(fs.exists(side), "the live sidecar must be restored in place")
    // readers are HEAL-ONLY (ADVICE r12): the restore renames the
    // aside into place but leaves the maintainer's .fold scaffolding
    // untouched; the next MAINTAINER pass clears the residue
    assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/_corpus_stats.fold-100")),
      "a reader must never delete the maintainer's .fold scaffolding")
    TextIndex.maybeFoldStats(spark, dir, threshold = 10000)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_corpus_stats.{old,fold}-*")).isEmpty,
      "the maintainer's next pass must clear superseded scaffolding")
    // the serve is unaffected
    val served = rows(TextIndex.topK(spark, dir, Seq("alpha", "kappa"), 10))
    assert(served == rows(Curation.bm25TopK(docs, "doc_id", "text",
      Seq("alpha", "kappa"), 10)))
    // a streaming replay arriving INTO the crash window must heal the
    // sidecar first, see its bid row, and skip — never re-seed
    // `_corpus_stats` with only the replayed batch's row
    crash(200L)
    TextIndex.healBatch(docs.filter($"doc_id" >= 30), "doc_id", "text",
      dir, batchId = 1L, nBuckets = 4)
    assert(TextIndex.readStats(spark, dir) == want,
      "a replay heal during the crash window must restore, not re-seed")
  }

  test("facetCounts == corpus recompute; tombstoned docs leave the facets") {
    val dir = tmp("facet")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val meta = docs.withColumn("cat",
      concat(lit("c"), (col("doc_id") % 3).cast("string")))
    val terms = Seq("alpha", "beta")
    def brute(d: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      d.filter(terms.map(t =>
          array_contains(split(col("text"), "\\s+"), t)).reduce(_ && _))
        .groupBy($"cat").agg(count(lit(1)).as("n_docs"))
        .orderBy($"n_docs".desc, $"cat")
        .as[(String, Long)].collect().toSeq
    def got(): Seq[(String, Long)] =
      TextIndex.facetCounts(spark, dir, terms, meta, "doc_id", "cat")
        .as[(String, Long)].collect().toSeq
    assert(got() == brute(meta) && got().nonEmpty)
    // an absent term means zero matches, hence zero facets
    assert(TextIndex.facetCounts(spark, dir, Seq("alpha", "qqzznope"),
      meta, "doc_id", "cat").isEmpty)
    // deletes: the match set is tombstone-exact, so facets follow
    assert(TextIndex.delete(spark, dir,
      docs.filter($"doc_id" % 4 === 0).select($"doc_id"), "doc_id") > 0L)
    assert(got() == brute(meta.filter($"doc_id" % 4 =!= 0)),
      "facets must count only surviving matches")
  }

  test("sharded scatter-gather == one store over the union: global-df " +
      "contract, mixed layouts, per-shard tombstones compose") {
    val shards = Seq(tmp("shard0"), tmp("shard1"), tmp("shard2"))
    val parts = Seq(
      docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1),
      docs.filter($"doc_id" % 3 === 2))
    // mixed layouts and bucket counts: the contract is per-document
    // partitioning, not layout homogeneity
    TextIndex.build(parts(0), "doc_id", "text", shards(0), nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.buildPositional(parts(1), "doc_id", "text", shards(1),
      nBuckets = 2)
    TextIndex.build(parts(2), "doc_id", "text", shards(2), nBuckets = 8)
    val whole = tmp("whole")
    TextIndex.build(docs, "doc_id", "text", whole, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa", "mu")
    for (k <- Seq(1, 5, 10, 25)) {
      assert(rows(TextIndex.topKSharded(spark, shards, terms, k)) ==
        rows(TextIndex.topK(spark, whole, terms, k)),
        s"k=$k: sharded must equal the one-store union serve")
    }
    // a delete on ONE shard == the same delete on the union store
    val doomed = docs.filter($"doc_id" % 6 === 0).select($"doc_id")
    assert(TextIndex.delete(spark, shards(0), doomed, "doc_id") > 0L)
    assert(TextIndex.delete(spark, whole, doomed, "doc_id") > 0L)
    assert(rows(TextIndex.topKSharded(spark, shards, terms, 10)) ==
      rows(TextIndex.topK(spark, whole, terms, 10)),
      "per-shard tombstones must keep the global stats exact")
    // absent terms: empty, no shard probed beyond its bits
    assert(rows(TextIndex.topKSharded(spark, shards, Seq("qqzz"), 5))
      .isEmpty)
  }

  test("range facets emit every requested bucket (zeros included); " +
      "per-facet top-k ranks with the plain serve's exact scores") {
    val dir = tmp("facetx")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    val meta = docs
      .withColumn("cat", concat(lit("c"), (col("doc_id") % 3).cast("string")))
      .withColumn("len", length(col("text")).cast("long"))
    val terms = Seq("alpha", "beta")
    val matchSet = docs.filter(terms.map(t =>
        array_contains(split(col("text"), "\\s+"), t)).reduce(_ && _))
      .select($"doc_id").as[Long].collect().toSet
    assert(matchSet.nonEmpty, "test setup: matches must exist")
    // range facets vs driver-side recompute, zero buckets included
    val bounds = Seq(0.0, 30.0, 60.0, 100.0, 10000.0)
    val lens = meta.filter($"doc_id".isin(matchSet.toSeq: _*))
      .select($"len").as[Long].collect().toSeq
    val want = bounds.zip(bounds.tail).map { case (lo, hi) =>
      (lo, hi, lens.count(v => v >= lo && v < hi).toLong)
    }
    val gotR = TextIndex.facetRangeCounts(spark, dir, terms, meta,
        "doc_id", "len", bounds)
      .as[(Double, Double, Long)].collect().toSeq
    assert(gotR == want, s"range facets must match the recompute: $gotR")
    assert(gotR.map(_._3).sum == matchSet.size.toLong,
      "test setup: the outer bounds must cover every match")
    assert(gotR.exists(_._3 == 0L),
      "test setup: some bucket must be empty to pin the zero rows")
    // per-facet top-k: scores equal the plain serve's, ranks per facet
    val scores = rows(TextIndex.topK(spark, dir, terms, 1000))
      .map(r => r._1 -> r._3).toMap
    val wantTop = meta.filter($"doc_id".isin(matchSet.toSeq: _*))
      .select($"doc_id", $"cat").as[(Long, String)].collect().toSeq
      .map { case (id, cat) => (cat, id, scores(id)) }
      .groupBy(_._1).toSeq.flatMap { case (cat, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(2).zipWithIndex
          .map { case ((c, id, s), i) => (c, i + 1, id, s) }
      }.sortBy(r => (r._1, r._2))
    val gotTop = TextIndex.facetTopDocs(spark, dir, terms, meta,
        "doc_id", "cat", 2)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(gotTop == wantTop,
      s"per-facet top-k must rank the plain serve's scores: $gotTop")
    // conjunctive: an absent term empties both extensions
    assert(TextIndex.facetTopDocs(spark, dir, Seq("alpha", "qqzz"),
      meta, "doc_id", "cat", 2).isEmpty)
    assert(TextIndex.facetRangeCounts(spark, dir, Seq("alpha", "qqzz"),
        meta, "doc_id", "len", bounds)
      .as[(Double, Double, Long)].collect().forall(_._3 == 0L),
      "absent term: every range bucket must be zero")
  }

  test("bm25f == scan-path recompute; deletes compose; mismatched " +
      "field corpora refuse") {
    val dirA = tmp("bm25fa")
    val dirB = tmp("bm25fb")
    val toksC = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toksC, lit(1), lit(2)), " ").as("fa"),
      array_join(slice(toksC, lit(3), size(toksC) - 2), " ").as("fb"))
    TextIndex.build(fielded, "doc_id", "fa", dirA, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "fb", dirB, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa", "mu")
    // the scan-everything recompute of the same math (the store must
    // reproduce it bit-for-bit through all its prunes)
    def scan(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] = {
      val n = d.count()
      def part(c: String, boost: Double, bf: Double) = {
        val tok = split(col(c), "\\s+")
        val sdl = d.select(sum(size(tok)).cast("long")).head().getLong(0)
        val av = round(lit(sdl).cast("double") / lit(n), 6)
        d.select(col("doc_id"), size(tok).cast("long").as("dl"),
            explode(tok).as("w"))
          .filter(col("w").isin(terms: _*))
          .groupBy(col("doc_id"), col("dl"), col("w"))
          .agg(count(lit(1)).as("tf"))
          .select(col("doc_id"), col("w"),
            round(lit(boost) * col("tf") /
              (lit(1.0 - bf) + lit(bf) * col("dl") / av), 6)
              .cast("decimal(28,6)").as("wtfp"))
      }
      val u = part("fa", 1.5, 0.4).unionByName(part("fb", 1.0, 0.75))
      val dfT = u.groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("df"))
      u.groupBy(col("doc_id"), col("w")).agg(sum(col("wtfp")).as("wtf"))
        .join(dfT, Seq("w"))
        .withColumn("idf", round(log(lit(1.0) +
          (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6))
        .withColumn("c", round(col("idf") * col("wtf").cast("double") /
            (lit(1.2) + col("wtf").cast("double")), 6)
          .cast("decimal(28,6)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("c")).cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(12)
        .as[(Long, Long, Double)].collect().toSeq
    }
    val fields = Seq(("fa", dirA, 1.5, 0.4), ("fb", dirB, 1.0, 0.75))
    assert(rows(TextIndex.bm25fTopK(spark, fields, terms, 12)) ==
      scan(fielded))
    // deletes applied to BOTH stores == survivor recompute
    val doomed = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    assert(TextIndex.delete(spark, dirA, doomed, "doc_id") > 0L)
    assert(TextIndex.delete(spark, dirB, doomed, "doc_id") > 0L)
    assert(rows(TextIndex.bm25fTopK(spark, fields, terms, 12)) ==
      scan(fielded.filter($"doc_id" % 5 =!= 0)))
    // a field store missing docs the others have = not one corpus
    val dirC = tmp("bm25fc")
    TextIndex.build(fielded.filter($"doc_id" < 30), "doc_id", "fb", dirC,
      nBuckets = 4, filesPerBucket = 2)
    intercept[IllegalArgumentException] {
      TextIndex.bm25fTopK(spark,
        Seq(("fa", dirA, 1.5, 0.4), ("fb", dirC, 1.0, 0.75)), terms, 12)
    }
  }

  test("bm25f over unified positional field stores == over bag field " +
      "stores; phrase and BM25F serve from the SAME per-field stores") {
    // the single-layout story across the field axis: a two-field
    // deployment that also wants phrase search keeps ONE positional
    // store per field — the unified layout's (w, tf, dl) contract
    // (including the ''-tail for short fields) must make the ranking
    // serves bit-equal to bag-of-terms field stores, while the same
    // files answer positional queries
    val dirPA = tmp("posfa")
    val dirPB = tmp("posfb")
    val dirBA = tmp("bagfa")
    val dirBB = tmp("bagfb")
    val toksC = split(col("text"), "\\s+")
    // fa of a short doc is fine; fb can be EMPTY (dl-1 '' field) —
    // exactly the tail contract the equality must survive
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toksC, lit(1), lit(2)), " ").as("fa"),
      array_join(slice(toksC, lit(3), greatest(size(toksC) - 2, lit(0))),
        " ").as("fb"))
    TextIndex.buildPositional(fielded, "doc_id", "fa", dirPA,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.buildPositional(fielded, "doc_id", "fb", dirPB,
      nBuckets = 4, filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "fa", dirBA, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "fb", dirBB, nBuckets = 4,
      filesPerBucket = 2)
    val terms = Seq("alpha", "kappa", "mu")
    val pos = Seq(("fa", dirPA, 1.5, 0.4), ("fb", dirPB, 1.0, 0.75))
    val bag = Seq(("fa", dirBA, 1.5, 0.4), ("fb", dirBB, 1.0, 0.75))
    assert(rows(TextIndex.bm25fTopK(spark, pos, terms, 12)) ==
      rows(TextIndex.bm25fTopK(spark, bag, terms, 12)),
      "positional field stores must rank bit-equal to bag stores")
    assert(rows(TextIndex.bm25fTopK(spark, pos, terms, 12)).nonEmpty)
    // the batched form accepts the positional field stores too
    val qf = Seq((0L, Seq("alpha", "kappa")), (1L, Seq("mu")))
      .toDF("query_id", "terms")
    assert(TextIndex.bm25fTopKBatch(spark, pos, qf, "query_id", "terms", 8)
        .collect().toSeq ==
      TextIndex.bm25fTopKBatch(spark, bag, qf, "query_id", "terms", 8)
        .collect().toSeq)
    // …and the SAME fb store answers exact adjacency: brute-force the
    // fb token stream (filtered, like the positional tokenizer)
    def brute(a: String, b: String): Seq[(Long, Long)] =
      fielded.select($"doc_id", $"fb").as[(Long, String)].collect().toSeq
        .flatMap { case (id, text) =>
          val t = text.split("\\s+").filter(_.nonEmpty)
          val n = (0 until math.max(t.length - 1, 0))
            .count(p => t(p) == a && t(p + 1) == b)
          if (n > 0) Some((id, n.toLong)) else None
        }.sortBy(_._1)
    val phr = TextIndex.phraseSearch(spark, dirPB, Seq("beta", "gamma"))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(phr == brute("beta", "gamma"),
      "the ranking field store must still serve exact phrase")
    assert(phr.nonEmpty, "test setup: the phrase must occur in fb")
  }

  test("batched bm25f and batched facets == their per-query loops") {
    val dirA = tmp("bfba")
    val dirB = tmp("bfbb")
    val toksC = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toksC, lit(1), lit(2)), " ").as("fa"),
      array_join(slice(toksC, lit(3), size(toksC) - 2), " ").as("fb"))
    TextIndex.build(fielded, "doc_id", "fa", dirA, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "fb", dirB, nBuckets = 4,
      filesPerBucket = 2)
    val fields = Seq(("fa", dirA, 1.5, 0.4), ("fb", dirB, 1.0, 0.75))
    val qf = Seq((0L, Seq("alpha", "kappa")), (1L, Seq("beta", "mu")),
      (2L, Seq("qqzznope"))).toDF("query_id", "terms")
    val got = TextIndex.bm25fTopKBatch(spark, fields, qf,
        "query_id", "terms", 8)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val want = Seq(0L -> Seq("alpha", "kappa"), 1L -> Seq("beta", "mu"))
      .flatMap { case (qid, ts) =>
        rows(TextIndex.bm25fTopK(spark, fields, ts, 8))
          .map { case (d, nt, sc) => (qid, d, nt, sc) }
      }
    assert(got == want)
    assert(!got.exists(_._1 == 2L), "a dead query must drop whole")
    // batched facets == the per-query facetCounts loop
    val dirS = tmp("bfbs")
    TextIndex.build(docs, "doc_id", "text", dirS, nBuckets = 4,
      filesPerBucket = 2)
    val meta = docs.withColumn("cat",
      concat(lit("c"), (col("doc_id") % 3).cast("string")))
    val fgot = TextIndex.facetCountsBatch(spark, dirS, qf,
        "query_id", "terms", meta, "doc_id", "cat")
      .as[(Long, String, Long)].collect().toSeq
    val fwant = Seq(0L -> Seq("alpha", "kappa"), 1L -> Seq("beta", "mu"))
      .flatMap { case (qid, ts) =>
        TextIndex.facetCounts(spark, dirS, ts, meta, "doc_id", "cat")
          .as[(String, Long)].collect().toSeq
          .map { case (f, c) => (qid, f, c) }
      }
    assert(fgot == fwant)
    assert(!fgot.exists(_._1 == 2L))
  }

  /** Every file under `dir` (sidecars included) with its length,
    * except the `_SUCCESS` markers a write job rewrites. */
  private def storeFiles(dir: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (!st.getPath.getName.contains("_SUCCESS")) out += rel -> st.getLen
    }
    out.result()
  }

  test("appending an empty batch is a no-op: no file, no sidecar row") {
    val dir = tmp("empty_append")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4,
      filesPerBucket = 2)
    TextIndex.buildBlockStats(spark, dir)
    TextIndex.buildVocab(spark, dir)
    val before = storeFiles(dir)
    val want = rows(TextIndex.topK(spark, dir, Seq("alpha", "mu"), 8))
    TextIndex.append(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(storeFiles(dir) == before)
    assert(rows(TextIndex.topK(spark, dir, Seq("alpha", "mu"), 8)) == want)
    // and the store still takes a real batch afterwards
    TextIndex.append(Seq((1000L, "alpha alpha mu")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(rows(TextIndex.topK(spark, dir, Seq("alpha", "mu"), 100))
      .exists(_._1 == 1000L))
  }

  test("a warm batched serve reads its probed buckets from the observed " +
      "metrics row: no observation miss") {
    val dir = tmp("observe")
    TextIndex.build(docs, "doc_id", "text", dir, nBuckets = 4)
    val queries = Seq((0L, Seq("alpha", "beta")), (1L, Seq("mu")))
      .toDF("query_id", "terms")
    def serve() = TextIndex.topKBatch(spark, dir, queries, "query_id",
      "terms", 5).collect()
    def misses =
      Option(TextIndex.phaseSeconds.get(TextIndex.ObserveMiss))
        .fold(0.0)(_.doubleValue)
    val want = serve()
    val before = misses
    assert(serve().toSeq == want.toSeq)
    assert(misses == before, "a warm topKBatch fell back to the bucket job")
  }
}
