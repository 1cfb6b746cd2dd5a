package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.ParquetUpsert.{readKnown, readKnownMerged, readKnownUnder}

/** Persisted full-text postings store + store-served Okapi BM25 — the
  * text-retrieval sibling of the IVF postings store
  * ([[Similarity.ivfStoreBuild]]). [[Curation.bm25TopK]] re-tokenizes
  * and re-scans the corpus per query: the right shape for one ad-hoc
  * ranking, the wrong one for a retrieval SERVICE — at 100 TB every
  * query would pay a full corpus pass for a handful of terms.
  *
  * Here tokenization is paid ONCE at [[build]] — and exactly once:
  * postings `(w, doc_id, tf, dl)` land partitioned by
  * `tb = pmod(xxhash64(w), nBuckets)` and range-clustered by
  * `(tb, w)`, with the standard `_zonemap_multi` rider sidecar on `w`
  * ([[graft.sinks.SkippingStore.indexPartitioned]]); the
  * `_corpus_stats` sidecar (per-batch rows of exact BIGINT `(n, sdl)`
  * plus the term-presence bitset and df sketch, folded to one row
  * past a file threshold) and the `_doclen` sidecar both DERIVE from
  * that same write — observed in-flight metrics and a column-pruned
  * read of the written files ([[sidecarStage]]) — so the ingest
  * never re-reads the corpus. A [[topK]] serve then
  * composes THREE prunes before any posting is scored: partition
  * pruning opens only the query terms' buckets, the transparent zone
  * rule ([[graft.plans.ZonePruneRule]]) skips w-range-mismatched files
  * INSIDE them, and the residual `w IN (…)` rides parquet pushdown in
  * the survivors. Corpus stats come from the sidecar and are inlined
  * as literals (no stats frame, no join), so scoring touches terms'
  * postings only — never the corpus.
  *
  * Scoring math is [[Curation.bm25TopK]]'s verbatim (idf and per-term
  * contributions rounded to 6 decimals, summed as DECIMAL(28,6), avgdl
  * from the exact BIGINT sum), so a store-served answer is bit-stable
  * with the scan-everything path and with the SQL oracle. `df` is
  * derivable from the READ postings alone — a term's postings live
  * entirely inside its bucket — so no global df table is maintained.
  *
  * Lifecycle mirrors the IVF store: [[append]] tokenizes only the
  * batch, appends into the same `tb=` layout (the bucket hash is
  * frozen in `_corpus_stats` — re-deriving it would orphan every
  * existing posting), extends the zone sidecar over the new files
  * only, and bumps the corpus stats; serve needs no rebuild. Appends
  * decay file counts per bucket exactly like the IVF lists;
  * [[graft.sinks.StoreMaintenance]]-style compaction applies
  * unchanged (rewrite clustered by (tb, w), re-index, swap).
  */
object TextIndex {

  /** [[Curation.bm25TopK]]'s tokenizer, verbatim — the store and the
    * scan-everything path must agree on `dl` or scores drift. */
  private val TOK = "\\s+"

  private def statsPath(dir: String) = s"$dir/_corpus_stats"
  private def doclenPath(dir: String) = s"$dir/_doclen"
  private def tombPath(dir: String) = s"$dir/_tombstones"

  /** Wall-clock per ingest phase, accumulated across calls — the
    * attribution ledger behind SCALE.md's per-feature ingest cost
    * table ([[graft.tools.IngestProfile]] clears, runs, reads). Two
    * nanoTime calls per phase; always on. The sidecar branches of
    * [[sidecarStage]] and [[compact]] run concurrently, so their phases
    * overlap and the summed seconds can exceed the call's wall time.
    * The [[ObserveMiss]] key is the one count in it: fallback hits,
    * not seconds. */
  private[graft] val phaseSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def addPhase(key: String, v: Double): Unit =
    phaseSeconds.merge(key, Double.box(v),
      (a, b) => Double.box(a.doubleValue + b.doubleValue))
  private def timed[T](phase: String)(f: => T): T = {
    val t0 = java.lang.System.nanoTime()
    val r = f
    addPhase(phase, (java.lang.System.nanoTime() - t0) / 1e9)
    r
  }

  /** [[phaseSeconds]] key counting [[awaitObserved]] misses: each time
    * a batched serve's observed metrics row was not there in time and
    * the serve re-ran the explicit fallback job. */
  private[graft] val ObserveMiss = "observe_miss"

  /** One row per document `(doc_id, toks, dl)` — the pre-explode stage
    * every ingest derives from. When `obs` is given, the exact corpus
    * metrics `(n, sdl)` are collected DURING whatever action consumes
    * this frame (Spark's CollectMetrics node rides the map side of the
    * first shuffle, which executes exactly once per ingest even though
    * the range-partitioned write runs a sampling job first — shuffle
    * map stages are reused, not re-run), so the stats row costs no
    * second corpus pass. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String,
                        obs: Option[Observation]): DataFrame = {
    val pre = docs.select(col(idCol).as("doc_id"),
        split(col(textCol), TOK).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    obs.fold(pre)(o =>
      pre.observe(o, count(lit(1)).as("n"), sum(col("dl")).as("sdl"),
        // per-term df: each doc bumps the counters of its DISTINCT
        // terms once — additive count-min, map-side exactly-once
        graft.functions.Bitset.counter_sum(DfSketchW * DfSketchD)(
          flatten(transform(array_distinct(col("toks")),
            w => dfSketchProbes(w)))).as("df_sketch")))
  }

  private def postingsFrom(pre: DataFrame, nBuckets: Int): DataFrame =
    pre.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nBuckets)).cast("int"))

  /** Per-(doc, term) postings with the frozen bucket key — the
    * un-observed form [[healBatch]] uses (replay heal re-derives the
    * lost sidecars from the redelivered batch; the batch-sized 3-pass
    * cost is acceptable on that rare path and keeps the heal
    * independent of the files the crashed ingest may have half
    * written). */
  private def postings(docs: DataFrame, idCol: String, textCol: String,
                       nBuckets: Int): DataFrame =
    postingsFrom(tokenized(docs, idCol, textCol, None), nBuckets)

  /** Exact corpus stats over ALL docs (matching [[Curation.bm25TopK]]'s
    * `stats` aggregate): document count and BIGINT token-count sum —
    * (0, 0) for an empty frame, where `sum` alone would be null. */
  private def docStats(docs: DataFrame, idCol: String,
                       textCol: String): (Long, Long) = {
    val r = docs
      .select(size(split(col(textCol), TOK)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sdl")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Whether the stats row is written by the driver (default) or by a
    * Spark job — a test hook: specs switch it off to prove both writers
    * land one identical row (readers merge schemas). */
  @volatile private[graft] var statsDriverWrite: Boolean = true

  /** `_corpus_stats` is APPEND-ONLY: one row
    * `(bid, n, sdl, nbuckets, tf_bits)` per build/append (bid = -1
    * for batch-API writes, the micro-batch id for streaming ingest),
    * summed at read. Appending a row instead of rewriting a total
    * kills the read-modify-write (no lost update between concurrent
    * appenders) and makes the streaming replay-heal idempotent: a
    * replayed batch re-adds its row only if its bid is absent.
    * Ordering contract: data files land BEFORE the stats row, so a
    * crash in between leaves a servable store whose scores lag the
    * tail batch — never a stats row describing postings that don't
    * exist (streaming replays heal the gap; see [[healBatch]]).
    * `tf_bits` is the batch's term-presence Bloom bitset
    * ([[termFilterBits]]) — per-batch bitsets OR at read, so the
    * union filter stays append-only too. */
  private def appendStatsRow(spark: SparkSession, dir: String, bid: Long,
                             n: Long, sdl: Long, nBuckets: Int,
                             tfBits: Array[Long],
                             dfSketch: Option[Array[Long]] = None): Unit = {
    // ONE metadata-sized row per batch — launching a Spark job to
    // write it was pure fixed cost (~0.2 s locally, one job per
    // ingest). The driver writes the parquet file directly
    // (standard-LIST layout, same column set Spark wrote), dot-
    // prefixed-then-renamed so readers never see a torn file — the
    // same crash discipline as Spark's committer. Any failure falls
    // back to the original Spark write.
    val before = graft.sinks.SidecarFold.listing(spark, statsPath(dir))
    val direct = statsDriverWrite &&
      (try { writeStatsRowDirect(spark, dir, bid, n, sdl, nBuckets,
          tfBits, dfSketch); true }
        catch { case scala.util.control.NonFatal(_) => false })
    if (!direct) {
      import spark.implicits._
      Seq((bid, n, sdl, nBuckets, tfBits.toSeq))
        .toDF("bid", "n", "sdl", "nbuckets", "tf_bits")
        .withColumn("df_sketch", dfSketch.fold(
          lit(null).cast("array<bigint>"))(a => typedLit(a.toSeq)))
        .coalesce(1).write.mode("append").parquet(statsPath(dir))
    }
    // write-through: when the sidecar grew by exactly the file the
    // driver just wrote, the memo of the pre-write state absorbs the
    // row and the next serve collects nothing; any other listing (a
    // foreign writer, a fold, the Spark-write fallback) invalidates
    val hit = statsSnapshotMemo.get(dir)
    val after = graft.sinks.SidecarFold.listing(spark, statsPath(dir))
    if (direct && hit != null && hit.sig == sigOf(before) &&
        after.exists(graft.sinks.SidecarFold.grewBy(before.getOrElse(Nil), _, 1)))
      statsSnapshotMemo.put(dir,
        hit.plus(sigOf(after), bid, n, sdl, nBuckets, tfBits, dfSketch))
    else statsSnapshotMemo.remove(dir)
    ()
  }

  private def writeStatsRowDirect(spark: SparkSession, dir: String,
                                  bid: Long, n: Long, sdl: Long,
                                  nBuckets: Int, tfBits: Array[Long],
                                  dfSketch: Option[Array[Long]]): Unit = {
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .required(INT64).named("bid")
      .required(INT64).named("n")
      .required(INT64).named("sdl")
      .required(INT32).named("nbuckets")
      .addField(Types.optionalList().requiredElement(INT64)
        .named("tf_bits"))
      .addField(Types.optionalList().requiredElement(INT64)
        .named("df_sketch"))
      .named("spark_schema")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(statsPath(dir))
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) fs.mkdirs(base)
    val stamp = java.util.UUID.randomUUID.toString
    val tmp = new org.apache.hadoop.fs.Path(base,
      s".part-$stamp.snappy.parquet.inprogress")
    val fin = new org.apache.hadoop.fs.Path(base,
      s"part-00000-$stamp-graft.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, conf))
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("bid", bid); g.add("n", n); g.add("sdl", sdl)
      g.add("nbuckets", nBuckets)
      val tl = g.addGroup("tf_bits")
      tfBits.foreach(v => tl.addGroup("list").add("element", v))
      dfSketch.foreach { a =>
        val sl = g.addGroup("df_sketch")
        a.foreach(v => sl.addGroup("list").add("element", v))
      }
      writer.write(g)
    } finally writer.close()
    // dot-prefixed files are invisible to every reader; the rename
    // publishes the complete row atomically
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"rename $tmp -> $fin failed")
  }

  // Term-presence filter geometry — frozen like the bucket hash: the
  // serve probes with the same expressions every writer used. 2^17
  // bits = 16 KiB per batch row; at ~100k distinct terms per batch and
  // k=4 the false-positive rate is ~5% — a false positive only opens
  // one bucket needlessly, never changes an answer.
  private val TermFilterBits = 1 << 17
  private val TermFilterK = 4

  /** Stats-sidecar file count above which the ingest folds it to one
    * row ([[maybeFoldStats]]) — high enough that folds are rare
    * (every ~64 applied batches), low enough that serve-side stats
    * reads stay a bounded footer merge forever. */
  private val StatsFoldThreshold = 64

  /** File-count threshold for the `_tombstones` / `_doclen` folds —
    * the stats fold's siblings. A delete appends one file per call and
    * an append lands a handful of doclen files, so a high-churn store
    * (thousands of deletes between compactions) would otherwise pay a
    * growing small-file listing+merge on EVERY serve's tombstone
    * anti-join. Folding rewrites through the sidecar's own read-side
    * dedup (a no-op to every reader) into byte-targeted files —
    * O(tombstone set) per ~64 deletes, O(doclen) per ~64 appends,
    * bounded by churn cadence, never by corpus size. */
  private val SidecarFoldThreshold = 64

  /** Fold `_doclen` when decayed — through [[readDoclen]]'s own
    * per-doc dedup (max over identical dl rows; null dl for null-text
    * docs survives the max, matching the read). */
  private def maybeFoldDoclen(spark: SparkSession, dir: String): Unit = {
    graft.sinks.SidecarFold.foldIfDecayed(spark, doclenPath(dir),
      SidecarFoldThreshold)(
      _.groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
    ()
  }

  // Per-term df count-min sketch geometry — frozen like the bucket
  // hash and the term-filter geometry. depth x width longs per batch
  // row (128 KiB); rows SUM at read (count-min is additive) and fold
  // with the stats. Estimates only ever drive PLAN ORDERING
  // (rarest-term-first phrase folds) — never an answer — so sketch
  // collisions, post-delete staleness, and null rows from pre-sketch
  // batches all degrade to a worse join order, not a wrong row.
  private val DfSketchW = 8192
  private val DfSketchD = 2

  /** Absolute counter indexes for one term: row d probes segment
    * `[d*W, (d+1)*W)` with an xxhash64 seed-column disjoint from
    * [[termProbes]]'. */
  private def dfSketchProbes(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array((0 until DfSketchD).map(d =>
      lit(d.toLong * DfSketchW) +
        pmod(xxhash64(w, lit(101 + d)), lit(DfSketchW.toLong))): _*)

  private def termProbes: org.apache.spark.sql.Column =
    array((0 until TermFilterK).map(i =>
      pmod(xxhash64(col("w"), lit(i)), lit(TermFilterBits.toLong))): _*)

  // ------------------------------------------------------------------
  // Driver-side evaluation of the frozen hash expressions. The WRITE
  // side keeps evaluating `xxhash64`/`pmod` through the engine (the
  // frozen-layout contract); the SERVE side routes query terms to
  // buckets and filter probes with these local functions, which
  // replicate Spark's XxHash64 seed fold exactly (initial seed 42,
  // strings via hashUTF8String, int literals via hashInt — the
  // HashExpression contract) — each serve previously paid one
  // fixed-cost local job just to hash a handful of terms. Bit-equality
  // with the engine expressions is pinned by FrozenHashSpec; a Spark
  // upgrade that changed the hash would fail that spec loudly (and
  // would anyway have broken every existing store's layout).

  private def xx64(w: String, seed: Long = 42L): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(w), seed)

  private def pmodL(h: Long, m: Long): Long = {
    val r = h % m; if (r < 0) r + m else r
  }

  /** `pmod(xxhash64(w), nb)` — the frozen bucket key. */
  private[graft] def bucketOf(w: String, nb: Int): Int =
    pmodL(xx64(w), nb).toInt

  /** Distinct bucket ids of `terms` (driver-evaluated; order-free —
    * callers only `isin` them). */
  private[graft] def bucketsOf(terms: Seq[String], nb: Int): Seq[Int] =
    terms.map(bucketOf(_, nb)).distinct

  /** [[termProbes]] driver-side: `pmod(xxhash64(w, i), bits)`. */
  private[graft] def termProbesLocal(w: String): Seq[Long] = {
    val h = xx64(w)
    (0 until TermFilterK).map(i => pmodL(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, h),
      TermFilterBits.toLong))
  }

  /** [[dfSketchProbes]] driver-side. */
  private[graft] def dfSketchProbesLocal(w: String): Seq[Int] = {
    val h = xx64(w)
    (0 until DfSketchD).map(d => (d * DfSketchW + pmodL(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(101 + d, h),
      DfSketchW.toLong)).toInt)
  }

  /** The batch's term-presence bitset, reduced ON THE CLUSTER into
    * ≤ nbits/64 (word, bits) rows — never vocab-sized driver
    * traffic. Input is the postings frame, so tokenization is never
    * repeated for the filter. */
  private def termFilterBits(post: DataFrame): Array[Long] = {
    val rows = post.select(col("w")).distinct()
      .select(explode(termProbes).as("p"))
      .groupBy((col("p") / 64).cast("int").as("word"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 64 AS int)))").as("bits"))
      .collect()
    val arr = new Array[Long](TermFilterBits / 64)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Collapsed `_corpus_stats` content — everything every reader ever
    * derives from the sidecar, reduced from ONE collected read:
    * per-batch rows sum/OR into fixed-size aggregates (≤ fold
    * threshold rows by construction), so holding the snapshot costs
    * ~144 KiB per store, not rows × arrays. */
  private final case class StatsSnapshot(sig: String, nbs: Seq[Int],
    n: Long, sdl: Long, maxBid: Long, bits: Option[Array[Long]],
    sketch: Option[Array[Long]]) {
    /** This snapshot with one more row, under listing signature `sig2`
      * — what [[statsSnapshot]] reduces the grown sidecar to: sums add,
      * bids max, bitsets OR (a foreign-geometry row voids them) and
      * sketches of the frozen geometry add. */
    def plus(sig2: String, bid: Long, n1: Long, sdl1: Long, nb: Int,
             tfBits: Array[Long], dfSketch: Option[Array[Long]])
        : StatsSnapshot =
      StatsSnapshot(sig2, (nbs :+ nb).distinct, n + n1, sdl + sdl1,
        math.max(maxBid, bid),
        bits.filter(_.length == tfBits.length)
          .map(a => Array.tabulate(a.length)(j => a(j) | tfBits(j))),
        dfSketch.filter(_.length == DfSketchW * DfSketchD).fold(sketch)(d =>
          Some(sketch.fold(d.clone)(a =>
            Array.tabulate(a.length)(j => a(j) + d(j))))))
  }

  /** Snapshot memo keyed by store dir, VALIDATED per call against the
    * sidecar's live file listing (name, length, mtime — any append,
    * fold, or external writer changes it): the [[blockCoverageMemo]]
    * idiom. One serve calls [[readStats]] + [[readTermFilter]] (and
    * phrase folds add [[readDfSketch]]); without the memo each ran its
    * own fixed-cost job over the same tiny parquet — with it the trio
    * costs one collect per sidecar STATE, metadata-validated, never a
    * cached answer (n/sdl/bits always re-derive when the files
    * change). Bounded: wholesale-cleared past 64 stores. */
  private val statsSnapshotMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StatsSnapshot]()

  /** A directory's state signature: its file listing with lengths and
    * mtimes ([[graft.sinks.SidecarFold.listing]]). A filesystem
    * metadata call — never a Spark job. Any append, fold, swap, or
    * external writer changes it. */
  private def dirListingSig(spark: SparkSession, path: String): String =
    sigOf(graft.sinks.SidecarFold.listing(spark, path))

  private def sigOf(l: Option[Seq[graft.sinks.SidecarFold.Entry]]): String =
    l.fold("absent")(_.map { case (name, len, mtime) =>
      s"$name:$len:$mtime" }.sorted.mkString("|"))

  private def statsSidecarSig(spark: SparkSession, dir: String): String =
    dirListingSig(spark, statsPath(dir))

  /** The one collected read behind [[readStats]], [[readTermFilter]]
    * and [[readDfSketch]]. */
  private def statsSnapshot(spark: SparkSession,
                            dir: String): StatsSnapshot = {
    restoreStatsAside(spark, dir) // fold-crash heal; no-op when live
    val sig = statsSidecarSig(spark, dir)
    val hit = statsSnapshotMemo.get(dir)
    if (hit != null && hit.sig == sig) return hit
    val snap = graft.sinks.SidecarFold.withReadRetry() {
      val df = readKnownMerged(spark, statsPath(dir))
      val hasBits = df.columns.contains("tf_bits")
      val hasSketch = df.columns.contains("df_sketch")
      val rows = df.collect()
      val nbs = rows.map(_.getAs[Int]("nbuckets")).distinct.toSeq
      val n = rows.map(_.getAs[Long]("n")).sum
      val sdl = rows.map(_.getAs[Long]("sdl")).sum
      val maxBid =
        if (rows.isEmpty) -1L else rows.map(_.getAs[Long]("bid")).max
      // OR of every batch's bitset; None when ANY row predates the
      // filter or carries foreign geometry — "cannot prove absence"
      val bits: Option[Array[Long]] =
        if (!hasBits) None
        else rows.foldLeft(Option(new Array[Long](TermFilterBits / 64))) {
          case (None, _) => None
          case (Some(acc), r) =>
            val i = r.fieldIndex("tf_bits")
            if (r.isNullAt(i)) None
            else {
              val a = r.getSeq[Long](i)
              if (a.length != acc.length) None
              else { var j = 0
                while (j < acc.length) { acc(j) |= a(j); j += 1 }
                Some(acc) }
            }
        }
      // the df sketch SUMS over non-null rows (additive count-min); a
      // partial sum is a usable underestimate — estimates only order
      // plans
      val sketch: Option[Array[Long]] =
        if (!hasSketch) None
        else {
          val acc = new Array[Long](DfSketchW * DfSketchD)
          var any = false
          rows.foreach { r =>
            val i = r.fieldIndex("df_sketch")
            if (!r.isNullAt(i)) {
              val a = r.getSeq[Long](i)
              if (a.length == acc.length) {
                any = true
                var j = 0
                while (j < acc.length) { acc(j) += a(j); j += 1 }
              }
            }
          }
          if (any) Some(acc) else None
        }
      StatsSnapshot(sig, nbs, n, sdl, maxBid, bits, sketch)
    }
    if (statsSnapshotMemo.size > 64) statsSnapshotMemo.clear()
    statsSnapshotMemo.put(dir, snap)
    snap
  }

  /** OR of every applied batch's bitset; None when any stats row
    * predates the filter (a store with pre-filter batches cannot
    * prove absence — the serve falls back to opening every query
    * term's bucket, never to a wrong skip). */
  private def readTermFilter(spark: SparkSession,
                             dir: String): Option[Array[Long]] =
    statsSnapshot(spark, dir).bits

  /** Summed per-term df sketch over every applied batch's non-null
    * row — None when no row carries one (pre-sketch store, healed
    * batches). Additive count-min: a PARTIAL sum (some rows null) is
    * a usable underestimate, because estimates only order plans. */
  private def readDfSketch(spark: SparkSession,
                           dir: String): Option[Array[Long]] =
    statsSnapshot(spark, dir).sketch

  /** Estimated df per term (count-min: min over the depth probes),
    * driver-evaluated with [[dfSketchProbesLocal]] (spec-pinned to the
    * writer's engine expressions — no per-serve hash job). */
  private def estimatedDf(spark: SparkSession, terms: Seq[String],
                          sketch: Array[Long]): Map[String, Long] =
    terms.map(w =>
      w -> dfSketchProbesLocal(w).map(p => sketch(p)).min).toMap

  /** The query terms that MIGHT exist in the store — Bloom semantics:
    * a dropped term provably has df = 0, so dropping it changes no
    * score and no match; it only skips opening that term's bucket.
    * Probes are driver-evaluated with [[termProbesLocal]] (spec-pinned
    * to the writer's engine expressions). */
  private def presentTerms(spark: SparkSession, terms: Seq[String],
                           bits: Array[Long]): Seq[String] =
    terms.filter(w => termProbesLocal(w).forall(p =>
      (bits((p / 64).toInt) & (1L << (p % 64).toInt)) != 0L))

  /** Crash-heal for [[maybeFoldStats]]'s swap window: a fold that died
    * between swapInto's two renames leaves NO live `_corpus_stats` but
    * the complete history under `.old-<stamp>`. Without a restore,
    * [[readStats]] fails and — far worse — a streaming replay's
    * [[healBatch]] would quietly re-create the sidecar containing ONLY
    * the replayed batch's row, making BM25's N/Σdl silently wrong for
    * every serve. Delegates to [[graft.sinks.SidecarFold.restoreAside]]
    * (the shared aside-wins discipline). */
  private def restoreStatsAside(spark: SparkSession, dir: String): Unit =
    graft.sinks.SidecarFold.restoreAside(spark, statsPath(dir))

  /** Whether batch `bid`'s stats contribution already landed (the
    * replay-heal guard; bid-row reads prune to one tiny sidecar
    * column). The check is `any bid >= wanted`, not equality: stream
    * bids are monotone and batch B+1 only runs after B committed —
    * and B's stats row lands inside B's own foreachBatch before that
    * commit — so ANY row at or past `bid` proves `bid`'s contribution
    * is in the sums. That is also what makes [[maybeFoldStats]] safe:
    * a fold row carries the max folded bid, which answers for every
    * bid it swallowed. */
  private def statsRowExists(spark: SparkSession, dir: String,
                             bid: Long): Boolean =
    graft.sinks.HadoopSwap.exists(spark, statsPath(dir)) &&
      statsSnapshot(spark, dir).maxBid >= bid

  /** The per-doc `(doc_id, dl)` sidecar — written at every
    * build/append so a later [[delete]] can price the removed docs
    * WITHOUT scanning the store (a doc's postings are scattered across
    * every bucket its terms hash to, so deriving dl from postings at
    * delete time would be a full-store read). Deduped by doc_id at
    * read: a streaming heal may land a batch's rows twice, with
    * identical dl — max() makes the duplicate invisible. `dl` is the
    * UNfiltered whitespace token count, matching [[docStats]] (what
    * the `_corpus_stats` rows counted), so a delete's subtraction is
    * exact against the stats it reverses. */
  private def readDoclen(spark: SparkSession,
                         dir: String): Option[DataFrame] =
    {
    // fold-crash heal first: a missing sidecar with fold scaffolding
    // must restore, not read as "predates delete support"
    graft.sinks.SidecarFold.restoreAside(spark, doclenPath(dir))
    if (!graft.sinks.HadoopSwap.exists(spark, doclenPath(dir))) None
    else Some(readKnown(spark, doclenPath(dir))
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
    }

  private def writeDoclen(docs: DataFrame, idCol: String, textCol: String,
                          dir: String): Unit =
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), TOK)).cast("long").as("dl"))
      .write.mode("append").parquet(doclenPath(dir))

  /** The corpus metrics collected during the write — with one escape
    * hatch: when the ingest produced ZERO postings rows, AQE's
    * empty-relation propagation can replace the plan subtree that
    * carried the CollectMetrics node, and the observation completes
    * with an empty row. Only in that degenerate case (a batch of
    * nothing but token-free docs) does `fallback` re-derive the
    * metrics with an explicit batch pass. */
  private def observed(obs: Observation,
                       fallback: () => (Long, Long)): (Long, Long) = {
    val m = obs.get
    if (m.contains("n"))
      (m("n").asInstanceOf[Long],
        Option(m("sdl")).fold(0L)(_.asInstanceOf[Long]))
    else fallback()
  }

  /** The df sketch observed during the write; None when AQE
    * empty-propagation swallowed the metrics node (degenerate write —
    * a null sketch row only weakens plan ordering, never an answer). */
  private def observedCounters(obs: Observation): Option[Array[Long]] =
    obs.get.get("df_sketch") match {
      case Some(sq: Seq[_]) => Some(sq.asInstanceOf[Seq[Long]].toArray)
      case Some(a: Array[Long]) => Some(a)
      case _ => None
    }

  /** The sidecar stage of every ingest ([[ingest]]) — the corpus pass
    * is the postings write itself, and every sidecar derives from what
    * that pass produced:
    *
    *  - `(n, sdl)`, the term bits and the df sketch were observed
    *    DURING the write ([[tokenized]]), so the stats row re-reads
    *    nothing;
    *  - `_doclen`, `_blockmax` and `_vocab` read only the files the
    *    ingest just WROTE (`written`), never the source docs and, on
    *    appends, never an old file ([[deriveDoclen]],
    *    [[maybeExtendBlockStats]], [[maybeExtendVocab]]).
    *
    * The zone index, `_doclen`, `_blockmax` and `_vocab` are independent
    * of each other, so they run as concurrent branches
    * ([[graft.queries.Pipeline.inParallel]]); the `_corpus_stats` row
    * and the folds land LAST, after the data files and `_doclen`. A
    * crash or a failing branch before that leaves a servable store
    * whose stats lag the batch — never a stats row describing rows that
    * do not exist — and [[healBatch]] replays the lost work: zone and
    * block-max by file coverage, `_doclen` with the stats row (duplicate
    * rows are invisible under the read dedup), the vocab under its own
    * bid guard. A failing branch cancels its siblings' running jobs and
    * fails the ingest. */
  private def sidecarStage(spark: SparkSession, dir: String,
                           written: Option[DataFrame], bid: Long,
                           n: Long, sdl: Long, nBuckets: Int,
                           bits: Array[Long],
                           dfSketch: Option[Array[Long]],
                           residual: () => DataFrame): Unit = {
    inBranches(spark)(
      () => timed("zone_index") {
        graft.sinks.SkippingStore.indexPartitioned(spark, dir, Seq("w"))
      },
      () => deriveDoclen(spark, dir, written, n, residual),
      () => maybeExtendBlockStats(spark, dir),
      () => written.foreach(w => maybeExtendVocab(spark, dir, bid, w)))
    timed("stats_row") {
      appendStatsRow(spark, dir, bid, n, sdl, nBuckets, bits, dfSketch)
    }
    timed("sidecar_folds") {
      maybeFoldStats(spark, dir)
      maybeFoldDoclen(spark, dir)
    }
  }

  /** Runs `branches` concurrently ([[graft.queries.Pipeline.inParallel]])
    * under one job tag: when a branch fails, the jobs its siblings still
    * have running are cancelled before the failure propagates, so no
    * branch keeps writing after the caller has seen the error. */
  private def inBranches(spark: SparkSession)(branches: (() => Unit)*): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-branches-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    try graft.queries.Pipeline.inParallel(branches)(_())
    catch { case e: Throwable => sc.cancelJobsWithTag(tag); throw e }
    finally sc.removeJobTag(tag)
    ()
  }

  /** `_doclen` rows for the docs behind `written`: a column-pruned
    * `(doc_id, dl)` read of those files (postings carry `dl` on every
    * row, deduped per doc). Docs that produced ZERO postings rows are
    * invisible in the written files — in BOTH store kinds that is
    * exactly the null-text docs (`split(NULL) = NULL` explodes to
    * nothing; empty text still yields the one `""` token, and the
    * positional layout carries `""` postings too since the stats
    * unification). The write's own observed count exposes them: only
    * when it disagrees with the corpus count `n` does the `residual`
    * pass run (a null-check scan with no tokenize — parquet answers
    * `IS NULL` from row-group null counts, so a null-free corpus reads
    * ~nothing). Exactness assumes the store key contract (unique doc_id
    * per corpus), which every serve and the tombstone lifecycle already
    * require. */
  private def deriveDoclen(spark: SparkSession, dir: String,
                           written: Option[DataFrame], n: Long,
                           residual: () => DataFrame): Unit = {
    val nSeen = written.fold(0L) { w =>
      val dlObs = Observation()
      timed("doclen_write") {
        w.select(col("doc_id"), col("dl")).dropDuplicates("doc_id")
          .observe(dlObs, count(lit(1)).as("n"))
          .write.mode("append").parquet(doclenPath(dir))
      }
      // same AQE escape hatch as observed(): written is non-empty
      // here, so a swallowed metrics node should be unreachable — but
      // a miscount would silently skip the residual, so recount
      // rather than assume
      dlObs.get.get("n").map(_.asInstanceOf[Long])
        .getOrElse(w.select(col("doc_id")).distinct().count())
    }
    if (nSeen != n || nSeen == 0L)
      timed("doclen_residual") {
        residual().write.mode("append").parquet(doclenPath(dir))
      }
  }

  /** `_corpus_stats` stays append-only between folds, but an
    * append-per-batch sidecar grows one file per applied batch — a
    * long-lived streaming store would pay a footer-merge over
    * thousands of files on EVERY serve. Once the sidecar exceeds
    * `threshold` files, the append's tail step folds every row into
    * ONE: summed `(n, sdl)`, OR'd term bitset (null if any folded row
    * predates the filter or mixes geometry — "cannot prove absence"
    * survives the fold), and `bid = max(folded bids)` so the
    * [[statsRowExists]] replay guard (`any bid >= wanted`) still
    * answers for every swallowed batch. The fold swaps in
    * rename-aside, atomic like every store maintenance op, and shares
    * their single-maintainer discipline (a batch appender racing the
    * fold could land a stats file inside the swap window — folds run
    * inside the ingest path itself precisely so a single pipeline
    * never races its own maintenance). */
  private[graft] def maybeFoldStats(spark: SparkSession, dir: String,
                                    threshold: Int = StatsFoldThreshold)
      : Boolean = graft.sinks.SidecarFold.foldIfDecayed(spark,
      statsPath(dir), threshold, mergeSchema = true) { df =>
    val side = statsPath(dir)
    val hasBits = df.columns.contains("tf_bits")
    val rows = df.collect() // batch-count bounded — ≈ threshold rows
    val nbs = rows.map(_.getAs[Int]("nbuckets")).distinct
    require(nbs.length == 1,
      s"$side: inconsistent bucket counts ${nbs.mkString(",")}")
    val n = rows.map(_.getAs[Long]("n")).sum
    val sdl = rows.map(_.getAs[Long]("sdl")).sum
    val hwm = rows.map(_.getAs[Long]("bid")).max
    val bits: Option[Array[Long]] =
      if (!hasBits) None
      else rows.foldLeft(Option(new Array[Long](TermFilterBits / 64))) {
        case (None, _) => None
        case (Some(acc), r) =>
          val i = r.fieldIndex("tf_bits")
          if (r.isNullAt(i)) None
          else {
            val a = r.getSeq[Long](i)
            if (a.length != acc.length) None
            else { var j = 0
              while (j < acc.length) { acc(j) |= a(j); j += 1 }
              Some(acc) }
          }
      }
    // the df sketch SUMS across folded rows (count-min is additive);
    // null rows just don't contribute — a partial sum still orders
    val sketch: Option[Array[Long]] =
      if (!df.columns.contains("df_sketch")) None
      else {
        val accS = new Array[Long](DfSketchW * DfSketchD)
        var any = false
        rows.foreach { r =>
          val i = r.fieldIndex("df_sketch")
          if (!r.isNullAt(i)) {
            val a = r.getSeq[Long](i)
            if (a.length == accS.length) {
              any = true
              var j = 0
              while (j < accS.length) { accS(j) += a(j); j += 1 }
            }
          }
        }
        if (any) Some(accS) else None
      }
    import spark.implicits._
    Seq((hwm, n, sdl, nbs.head))
      .toDF("bid", "n", "sdl", "nbuckets")
      .withColumn("tf_bits", bits.fold(
        lit(null).cast("array<bigint>"))(b => typedLit(b.toSeq)))
      .withColumn("df_sketch", sketch.fold(
        lit(null).cast("array<bigint>"))(a => typedLit(a.toSeq)))
  }

  /** The term-presence bitset observed during the write
    * ([[graft.functions.BitsetOrAggregator]] over [[termProbes]] —
    * OR-idempotent, so the range sampler's re-execution of the
    * observed stage is harmless). Falls back to reading the written
    * files' `w` column only when AQE empty-propagation swallowed the
    * metrics node (which implies an empty or degenerate write). */
  private def observedBits(obs: Observation,
                           fallback: () => Array[Long]): Array[Long] =
    obs.get.get("tf_bits") match {
      case Some(s: Seq[_]) => s.asInstanceOf[Seq[Long]].toArray
      case Some(a: Array[Long]) => a
      case _ => fallback()
    }

  private def withBitsObserve(post: DataFrame,
                              obs: Observation): DataFrame =
    post.observe(obs, graft.functions.Bitset
      .bitset_or(TermFilterBits / 64)(termProbes).as("tf_bits"))

  /** The files the just-finished append landed, as a pruned frame —
    * None when the batch produced no postings at all. A concurrent
    * appender's files arriving between the two listings would only
    * widen this set: its doclen rows land twice with identical values
    * (invisible under the read-side dedup) and its terms OR into a
    * superset bitset (Bloom-safe). */
  private def newlyWritten(spark: SparkSession, dir: String,
                           before: Set[String]): Option[DataFrame] = {
    val fresh = graft.sinks.SkippingStore.listDataFileRelPaths(spark, dir)
      .filterNot(before).map(rel => s"$dir/$rel")
    if (fresh.isEmpty) None else Some(readKnown(spark, fresh: _*))
  }

  /** Zero-posting docs of the bag-of-terms tokenizer: null text only. */
  private def nullTextDocs(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.filter(col(textCol).isNull)
      .select(col(idCol).as("doc_id"), lit(null).cast("long").as("dl"))

  /** Collapsed `_tombstones` content — the deduped set's size and
    * Σdl and, when there are at most [[tombstoneInLiteralMaxIds]] of
    * them, the deduped doc ids themselves (nulls dropped: an equi-join
    * never matches a null id), memoized per sidecar STATE
    * ([[statsSnapshotMemo]]'s listing-validated idiom). With the ids
    * held on the driver, masking a read is a literal filter
    * ([[maskTombstones]]) and neither the serves nor [[delete]] /
    * [[append]]'s checks read the sidecar at all; past the bound `ids`
    * is None and they anti-join the sidecar frame. (0, 0) when the
    * store has none (no job — existence is a filesystem call). Any
    * delete, fold, or compaction changes the listing and forces a
    * re-read, unless [[delete]] wrote the change through. */
  private[graft] final case class TombSnapshot(sig: String, n: Long,
                                               sdl: Long,
                                               ids: Option[Seq[Any]]) {
    /** This snapshot plus deduped rows `(doc_id, dl)` of docs it does
      * not hold, under listing signature `sig2`. */
    def plus(sig2: String, rows: Seq[Row]): TombSnapshot = {
      val n2 = n + rows.size
      TombSnapshot(sig2, n2, sdl + rows.flatMap(dlOf).sum,
        ids.filter(_ => n2 <= tombstoneInLiteralMaxIds)
          .map(_ ++ rows.map(_.get(0)).filter(_ != null)))
    }
  }
  private val tombSnapshotMemo =
    new java.util.concurrent.ConcurrentHashMap[String, TombSnapshot]()

  private def dlOf(r: Row): Option[Long] =
    Option(r.get(1)).map(_.asInstanceOf[Number].longValue)

  /** The snapshot of raw tombstone rows `(doc_id, dl)` through the
    * read-side dedup: one doc per id with its max dl (a null dl — a
    * null-text doc — contributes nothing to Σdl). */
  private def tombSnapshotOf(sig: String, rows: Seq[Row]): TombSnapshot = {
    val docs = rows.groupMapReduce(_.get(0))(dlOf)((a, b) =>
      (a ++ b).maxOption)
    TombSnapshot(sig, docs.size, docs.values.flatten.sum,
      Option.when(docs.size <= tombstoneInLiteralMaxIds)(
        docs.keys.filter(_ != null).toSeq))
  }

  /** Every row of `df` in ONE job when no partition holds more than
    * `cap` rows (driver memory stays partitions × cap rows); None
    * otherwise, and the caller takes its frame path. */
  private def collectBounded(df: DataFrame, cap: Int): Option[Seq[Row]] = {
    val parts = df.rdd.mapPartitions(it => Iterator(it.take(cap + 1).toArray))
      .collect()
    Option.when(parts.forall(_.length <= cap))(parts.toSeq.flatten)
  }

  private[graft] def tombSnapshot(spark: SparkSession,
                           dir: String): TombSnapshot = {
    // fold-crash heal first, like every tombstone reader
    graft.sinks.SidecarFold.restoreAside(spark, tombPath(dir))
    val listing = graft.sinks.SidecarFold.listing(spark, tombPath(dir))
    val sig = sigOf(listing)
    val hit = tombSnapshotMemo.get(dir)
    if (hit != null && hit.sig == sig) return hit
    val snap =
      if (listing.isEmpty) TombSnapshot(sig, 0L, 0L, Some(Nil))
      else graft.sinks.SidecarFold.withReadRetry() {
        val tomb = readKnown(spark, tombPath(dir))
        collectBounded(tomb.select(col("doc_id"), col("dl")),
            tombstoneInLiteralMaxIds)
          .map(tombSnapshotOf(sig, _))
          .getOrElse {
            // a set past the literal bound: its aggregates only
            val t = tomb.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
              .agg(count(lit(1)), sum(col("dl"))).head()
            TombSnapshot(sig, t.getLong(0),
              if (t.isNullAt(1)) 0L else t.getLong(1), None)
          }
      }
    if (tombSnapshotMemo.size > 64) tombSnapshotMemo.clear()
    tombSnapshotMemo.put(dir, snap)
    snap
  }

  /** The deduped tombstone-set SIZE — the pruned serves' delegation
    * input, snapshot-derived (zero jobs between deletes). */
  private def tombstoneCount(spark: SparkSession, dir: String): Long =
    tombSnapshot(spark, dir).n

  /** The deduped tombstone set `(doc_id, dl)`, or None when the store
    * has none. Dedup by doc_id (max dl — rows for one doc are
    * identical by the [[delete]] guard; dedup only defends a
    * concurrent-deleter race) so a doc can never be subtracted twice
    * no matter how the sidecar was written. */
  private def readTombstones(spark: SparkSession,
                             dir: String): Option[DataFrame] = {
    // fold-crash heal FIRST: a tombstone sidecar parked under a fold
    // aside must never read as "no deletes" — that would silently
    // resurrect every masked doc
    graft.sinks.SidecarFold.restoreAside(spark, tombPath(dir))
    if (!graft.sinks.HadoopSwap.exists(spark, tombPath(dir))) None
    else Some(readKnown(spark, tombPath(dir))
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
  }

  /** `post` minus the store's tombstoned docs (no-op when none exist). */
  private def minusTombstones(spark: SparkSession, dir: String,
                              post: DataFrame): DataFrame =
    maskTombstones(spark, dir, tombSnapshot(spark, dir), post)

  /** `post` minus the docs of snapshot `ts`: with the ids on the driver
    * a null-safe NOT IN filter, which keeps exactly the rows a
    * `left_anti` join on doc_id keeps (a null doc_id matches no
    * tombstone) and reads no sidecar; past the literal bound the
    * anti-join against the sidecar — deleted-docs-sized, so AQE
    * broadcasts it and the postings side streams. */
  private def maskTombstones(spark: SparkSession, dir: String,
                             ts: TombSnapshot,
                             post: DataFrame): DataFrame =
    ts.ids match {
      case _ if ts.n == 0L => post
      case Some(ids) =>
        if (ids.isEmpty) post
        else post.filter(col("doc_id").isNull || !col("doc_id").isin(ids: _*))
      case None =>
        readTombstones(spark, dir).fold(post)(tb =>
          post.join(tb.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }

  /** The store's `(n, sdl, nbuckets)` — total docs, total tokens
    * (summed over every applied batch's row, MINUS the tombstoned
    * docs' exact counts), and the frozen bucket count every append and
    * serve must reuse. Deletes never touch `_corpus_stats`: the
    * subtraction derives from the tombstone rows themselves, so a
    * delete is a single atomic sidecar append with no
    * stats-out-of-sync crash window. */
  private[graft] def readStats(spark: SparkSession,
                               dir: String): (Long, Long, Int) = {
    val snap = statsSnapshot(spark, dir)
    require(snap.nbs.length == 1,
      s"${statsPath(dir)}: inconsistent bucket counts " +
        snap.nbs.mkString(","))
    // tombstone subtraction from the listing-validated snapshot — the
    // per-call count+sum job re-runs only when the sidecar changed
    val ts = tombSnapshot(spark, dir)
    (snap.n - ts.n, snap.sdl - ts.sdl, snap.nbs.head)
  }

  /** DELETE documents from the store — the lifecycle op a churning
    * corpus needs (takedowns, re-crawls, license revocations) WITHOUT
    * the 100 TB anti-pattern of rewriting postings per removal.
    *
    * A delete appends `(doc_id, dl)` rows to the `_tombstones`
    * sidecar — one coalesced file per call, so the delete becomes
    * visible ATOMICALLY: readers see either the store before the
    * delete or after it, never postings excluded with stats
    * unadjusted (the dl rides the tombstone precisely so
    * [[readStats]] derives the exact `(n, Σdl)` subtraction from the
    * same rows that drive the serve-side anti-join). Serves
    * ([[topK]]/[[topKBatch]]/[[phraseSearch]]) anti-join the
    * tombstone set; `df` is computed from the surviving postings, so
    * every BM25 input (df, n, avgdl) is exactly what a rebuild on the
    * surviving corpus would produce — bit-stable, which is what the
    * q231 oracle pins. Postings are physically purged only by the
    * next [[compact]] (atomic swap), after which the tombstone set is
    * cleared.
    *
    * Ids are validated against `_doclen` (unknown ids are ignored)
    * and against existing tombstones (a re-delete is a no-op, never a
    * double subtraction). A tombstoned id stays dead until a purging
    * compaction removes it; [[append]] refuses a batch that re-uses a
    * tombstoned id — resurrect via compact-then-append, not by
    * shadowing a pending tombstone. Returns the number of docs newly
    * deleted. */
  def delete(spark: SparkSession, storeDir: String,
             ids: DataFrame, idCol: String): Long = {
    require(graft.sinks.HadoopSwap.exists(spark, doclenPath(storeDir)),
      s"$storeDir predates delete support (no _doclen sidecar) — " +
        "compact() materializes it for bag-of-terms stores")
    import graft.sinks.SidecarFold
    // no dedup of the ids: a left-semi join keeps each doclen row once
    // however often its id repeats on the right
    val want = ids.select(col(idCol).as("doc_id"))
    val dl = readDoclen(spark, storeDir).get
    val ts = tombSnapshot(spark, storeDir)
    val doomed = maskTombstones(spark, storeDir, ts,
      dl.join(want, Seq("doc_id"), "left_semi"))
    // the doomed rows on the driver in the one job that finds them, and
    // the tombstone file written from those rows; a delete too big to
    // hold writes the frame and counts it in the same job instead
    val rows = collectBounded(doomed, tombstoneInLiteralMaxIds)
    if (rows.exists(_.isEmpty)) return 0L
    val side = tombPath(storeDir)
    val before = SidecarFold.listing(spark, side)
    val counted = Observation()
    rows.fold(doomed.observe(counted, count(lit(1)).as("n")))(rs =>
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), doomed.schema))
      .coalesce(1).write.mode("append").parquet(side)
    val nDel = rows.fold(counted.get("n").asInstanceOf[Long])(_.size.toLong)
    // fold-on-threshold: serves anti-join this sidecar on every query —
    // thousands of one-file deletes must not become a thousand-file
    // listing+merge. The fold rewrites through the read-side dedup
    // (same rows, same answers).
    SidecarFold.foldIfDecayed(spark, side, SidecarFoldThreshold)(
      _.groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
    // write-through: the rows are new ids by construction (masked by
    // `ts`), so when the sidecar grew by exactly this call's file the
    // snapshot absorbs them and the next serve reads nothing
    val after = SidecarFold.listing(spark, side)
    (rows, after) match {
      case (Some(rs), Some(a)) if ts.sig == sigOf(before) &&
          SidecarFold.grewBy(before.getOrElse(Nil), a, 1) =>
        tombSnapshotMemo.put(storeDir, ts.plus(sigOf(after), rs))
      case _ => tombSnapshotMemo.remove(storeDir)
    }
    nDel
  }

  /** Build the postings store: ONE tokenize pass (the postings write,
    * with `(n, sdl)` observed in-flight), range-clustered by (tb, w)
    * into ~`nBuckets × filesPerBucket` files so each bucket's files
    * cover narrow term ranges (file-level w-zones stay selective),
    * w-zone sidecar, `_doclen` and the corpus-stats row derived from
    * the WRITTEN files ([[sidecarStage]]) — at 100 TB the
    * difference between a 1-pass and a 3-pass ingest. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            storeDir: String, nBuckets: Int,
            filesPerBucket: Int = 1,
            marker: Option[Long] = None): Unit = {
    require(nBuckets >= 1 && filesPerBucket >= 1,
      "need at least one bucket and one file per bucket")
    ingest(docs, idCol, textCol, storeDir, Some(nBuckets), filesPerBucket,
      marker, positional = false)
  }

  /** Append a document batch: tokenize ONLY the batch, land postings
    * into the same frozen-bucket layout, extend the w-zone sidecar
    * over the new files only, bump `(n, sdl)`. Existing postings are
    * untouched — the batched cost is the batch's, like
    * [[Similarity.ivfStoreAppend]]. An empty batch is a no-op: its
    * write lands no file, and the observed count of zero returns
    * before any sidecar is touched. */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
             storeDir: String, filesPerBucket: Int = 1,
             marker: Option[Long] = None): Unit = {
    require(filesPerBucket >= 1, "need at least one file per bucket")
    require(!isPositional(newDocs.sparkSession, storeDir),
      s"$storeDir is a positional store — append with appendPositional")
    ingest(newDocs, idCol, textCol, storeDir, None, filesPerBucket, marker,
      positional = false)
  }

  /** The one ingest behind [[build]], [[buildPositional]], [[append]]
    * and [[appendPositional]], parameterized by the tokenizer
    * (`positional`) and by whether it builds (`nBuckets` given: the
    * store is overwritten with that frozen bucket count) or appends
    * (the store's own bucket count; the batch must not re-use a
    * tombstoned id). ONE tokenize pass — the postings write, with the
    * corpus metrics, the term bits and the df sketch observed in
    * flight — then the [[sidecarStage]] over exactly the files that
    * write landed. An append of nothing returns before any sidecar is
    * touched. */
  private def ingest(docs: DataFrame, idCol: String, textCol: String,
                     storeDir: String, nBuckets: Option[Int],
                     filesPerBucket: Int, marker: Option[Long],
                     positional: Boolean): Unit = {
    val spark = docs.sparkSession
    val fresh = nBuckets.isDefined
    if (!fresh) timed("tombstone_clash_check") {
      requireNoTombstoneClash(docs, idCol, storeDir)
    }
    val nb = nBuckets.getOrElse(readStats(spark, storeDir)._3)
    val obs = Observation()
    val obsBits = Observation()
    val post = withBitsObserve(
      if (positional) positionalFrom(
        tokenizedPositional(docs, idCol, textCol, Some(obs)), nb)
      else postingsFrom(tokenized(docs, idCol, textCol, Some(obs)), nb),
      obsBits)
    val before = if (fresh) Set.empty[String] else timed("list_written") {
      graft.sinks.SkippingStore.listDataFileRelPaths(spark, storeDir).toSet
    }
    timed("postings_write") {
      marker.fold(post)(b => post.withColumn("_applied_batch", lit(b)))
        .repartitionByRange(nb * filesPerBucket, col("tb"), col("w"))
        .sortWithinPartitions(col("tb"), col("w"), col("doc_id"))
        .write.partitionBy("tb").mode(if (fresh) "overwrite" else "append")
        .parquet(storeDir)
    }
    if (fresh && positional) writeMarker(spark, storeDir)
    val (n, sdl) = observed(obs, () => docStats(docs, idCol, textCol))
    // an empty batch landed no postings file: every sidecar stays as is
    if (!fresh && n == 0L) return
    // every sidecar from the write's own files — the appended cost
    // stays the batch's, never the store's
    val written = timed("list_written") {
      newlyWritten(spark, storeDir, before)
    }
    sidecarStage(spark, storeDir, written, marker.getOrElse(-1L), n, sdl,
      nb, observedBits(obsBits, () => written
        .fold(new Array[Long](TermFilterBits / 64))(termFilterBits)),
      observedCounters(obs), () => nullTextDocs(docs, idCol, textCol))
  }

  /** A batch that re-uses a TOMBSTONED id would be silently shadowed
    * by the pending tombstone (the serve-side mask hides the doc_id,
    * old postings and new alike) — fail loud instead. The check is the
    * batch's ids against the snapshot's (a literal filter; a driver-held
    * batch runs no job), against the sidecar past the literal bound,
    * and skipped entirely on stores with no tombstones. Resurrection
    * path: [[compact]] (purges the tombstones) then append. */
  private def requireNoTombstoneClash(newDocs: DataFrame, idCol: String,
                                      storeDir: String): Unit = {
    val spark = newDocs.sparkSession
    val ts = tombSnapshot(spark, storeDir)
    if (ts.n > 0L) {
      val batch = newDocs.select(col(idCol).as("doc_id"))
      val clash = ts.ids match {
        case Some(ids) => batch.filter(col("doc_id").isin(ids: _*))
        case None => readTombstones(spark, storeDir).fold(batch.limit(0))(tb =>
          batch.join(tb.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      }
      require(clash.isEmpty,
        s"$storeDir: batch re-appends tombstoned doc ids — a pending " +
          "tombstone would mask the new rows; compact() first")
    }
  }

  /** Streaming replay-heal ([[graft.streaming.StreamingMerge]]): batch
    * `batchId`'s DATA is in the store (the `_applied_batch` gate said
    * so) but a crash may have lost the sidecar work that follows the
    * data append — re-extend the w-zone sidecar over any unmapped
    * files and re-add the batch's stats row iff its bid is absent.
    * Idempotent; the batch frame is the stream's redelivery, identical
    * by the checkpoint contract, so the recomputed stats row equals
    * the lost one. `nBuckets` comes from the ingest's configuration
    * (the frozen layout) for the corner where the stats sidecar
    * doesn't exist yet at all (crash inside the very first build). */
  private[graft] def healBatch(batch: DataFrame, idCol: String,
                               textCol: String, storeDir: String,
                               batchId: Long, nBuckets: Int,
                               positional: Boolean = false): Unit = {
    val spark = batch.sparkSession
    // a crash between the positional data write and the marker file
    // leaves a store that refuses phrase serves and appends — the
    // marker is part of the layout, so the heal restores it
    // (idempotent create)
    if (positional && !isPositional(spark, storeDir))
      writeMarker(spark, storeDir)
    graft.sinks.SkippingStore.indexPartitioned(spark, storeDir, Seq("w"))
    // fold-crash heal BEFORE the replay gate: with the live sidecar
    // missing but its history parked under a fold aside, the gate
    // would say "no row" and this heal would re-seed `_corpus_stats`
    // with only this batch's row — stranding every prior batch's stats
    restoreStatsAside(spark, storeDir)
    if (!statsRowExists(spark, storeDir, batchId)) {
      val nb =
        if (graft.sinks.HadoopSwap.exists(spark, statsPath(storeDir)))
          readStats(spark, storeDir)._3
        else nBuckets
      require(nb == nBuckets,
        s"healBatch($storeDir): ingest configured $nBuckets buckets but " +
          s"the store froze $nb — checkpoint and store are not a pair")
      // doclen heals WITH the stats row: a crash after doclen but
      // before the stats row re-lands the doclen rows on replay —
      // identical (doc_id, dl) pairs, invisible under the read dedup.
      // (writeDoclen/docStats use the UNfiltered count for both store
      // kinds — the positional sidecar discipline is the same.)
      writeDoclen(batch, idCol, textCol, storeDir)
      val (n, sdl) = docStats(batch, idCol, textCol)
      appendStatsRow(spark, storeDir, batchId, n, sdl, nb,
        termFilterBits(
          if (positional) positionalPostings(batch, idCol, textCol, nb)
          else postings(batch, idCol, textCol, nb)))
      maybeFoldDoclen(spark, storeDir)
    }
    // vocab heals under ITS OWN replay guard — a crash can land
    // between the stats row and the vocab extension, so "stats row
    // exists" must not skip the vocab re-extend (and vice versa: the
    // extension is gated on its own bid high-water mark, so a
    // redelivery after a successful extend adds nothing)
    graft.sinks.SidecarFold.restoreAside(spark, vocabPath(storeDir))
    if (graft.sinks.HadoopSwap.exists(spark, vocabPath(storeDir)) &&
        !vocabRowExists(spark, storeDir, batchId))
      maybeExtendVocab(spark, storeDir, batchId,
        postings(batch, idCol, textCol, 1))
    // block stats are file-coverage-keyed: the heal is just "cover
    // any file the lost extension left unmapped"
    maybeExtendBlockStats(spark, storeDir)
  }

  /** Compact the postings store: rewrite every bucket re-clustered by
    * (tb, w) into ~`nBuckets × filesPerBucket` files, REBUILD the
    * w-zone sidecar over the new files, carry the corpus stats over
    * verbatim (compaction moves postings, never changes N/Σdl/the
    * bucket hash), and swap rename-aside ([[graft.sinks.HadoopSwap]];
    * object stores route through a VersionedStore manifest commit
    * instead, same caveat as the IVF store). Heals [[append]]'s
    * one-file-per-bucket-per-batch decay AND restores narrow per-file
    * w ranges — append files span each batch's whole term range, so
    * their zones are wide and the zone rule can't skip them; after
    * compaction single-term serves are back to ~1/filesPerBucket of
    * their bucket. Returns (filesBefore, filesAfter).
    *
    * The purge and the stats subtraction come from ONE tombstone
    * snapshot taken at entry: its ids mask the rewrite and `_doclen`,
    * and its (count, Σdl) is the adjustment row. Past
    * [[tombstoneInLiteralMaxIds]] the mask anti-joins the sidecar as
    * it stands when the rewrite runs, so compaction is single-writer
    * like every store maintenance op: no [[delete]] may run on the
    * store until it returns. */
  def compact(spark: SparkSession, storeDir: String,
              filesPerBucket: Int = 1): (Int, Int) = {
    require(filesPerBucket >= 1, "need at least one file per bucket")
    import graft.sinks.{HadoopSwap, SkippingStore}
    val (_, _, nb) = readStats(spark, storeDir)
    val before = SkippingStore.listDataFileRelPaths(spark, storeDir).size
    val tmp = storeDir + "_compact_tmp"
    val aside = storeDir + "_compact_old"
    HadoopSwap.deleteRecursive(spark, tmp)
    HadoopSwap.deleteRecursive(spark, aside)
    // merged schema: batch-API files carry no _applied_batch column
    // while streaming-ingested files do — the rewrite must preserve
    // every marker (null for batch rows) or compaction would reset the
    // gate. Tombstoned docs are PURGED here: compaction is the delete
    // lifecycle's physical arm, and the swap below makes purge +
    // tombstone-clear atomic.
    val ts = tombSnapshot(spark, storeDir)
    maskTombstones(spark, storeDir, ts, readKnownMerged(spark, storeDir))
      .repartitionByRange(nb * filesPerBucket, col("tb"), col("w"))
      .sortWithinPartitions(col("tb"), col("w"), col("doc_id"))
      .write.partitionBy("tb").mode("overwrite").parquet(tmp)
    // `_doclen` carries over MINUS the purged docs (so a later delete
    // still prices removals exactly); a bag-of-terms store that
    // predates the sidecar materializes it here from the rewritten
    // postings — every doc has at least one posting row under the
    // unfiltered tokenizer, so the rebuild covers the corpus.
    val positional = isPositional(spark, storeDir)
    val dlNext = readDoclen(spark, storeDir)
      .map(maskTombstones(spark, storeDir, ts, _))
      .orElse(if (positional) None
        else Some(readKnown(spark, tmp)
          .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))))
    // a vocab sidecar is REBUILT from the rewritten postings — the
    // compaction purges tombstones, so this is the moment a stale-high
    // df snaps back to exact; bid carries the applied-batch high-water
    // mark so the streaming replay guard keeps answering. The hwm is
    // the GREATER of the vocab's own max(bid) and the stats sidecar's:
    // the rewritten postings reflect every batch whose STATS row
    // landed, including one whose vocab extension was lost in the
    // crash window healBatch covers — stamping only the vocab's max
    // would let that batch pass !vocabRowExists on redelivery and
    // re-extend df the rebuild already counted.
    graft.sinks.SidecarFold.restoreAside(spark, blockmaxPath(storeDir))
    graft.sinks.SidecarFold.restoreAside(spark, vocabPath(storeDir))
    val hasBlockmax = HadoopSwap.exists(spark, blockmaxPath(storeDir))
    val vocabHwm = Option.when(HadoopSwap.exists(spark, vocabPath(storeDir)))(
      math.max(vocabBidHwm(spark, storeDir), statsBidHwm(spark, storeDir)))
    val files = SkippingStore.listDataFileRelPaths(spark, tmp)
    // the zone index, the stats carry, the doclen carry and the
    // block-max-then-vocab rebuild each write their own sidecar under
    // the scaffold from the rewritten files or the live sidecars, so
    // they run as concurrent branches; nothing is visible until the
    // swap below
    inBranches(spark)(
      () => SkippingStore.indexPartitioned(spark, tmp, Seq("w")),
      // stats rows carry VERBATIM (bids included): totals are unchanged
      // by construction, and a streaming replay arriving right after
      // the swap still finds its bid row — the heal guard survives.
      // When tombstones are being purged, ONE adjustment row (bid = -1,
      // negative n/Σdl, zero term bits) bakes their subtraction into
      // the stats the instant the tombstone rows stop existing —
      // readStats answers identically on both sides of the swap.
      () => {
        readKnown(spark, statsPath(storeDir))
          .coalesce(1).write.mode("overwrite").parquet(statsPath(tmp))
        if (ts.n > 0L)
          appendStatsRow(spark, tmp, -1L, -ts.n, -ts.sdl, nb,
            new Array[Long](TermFilterBits / 64))
      },
      () => dlNext.foreach(_.write.mode("overwrite").parquet(doclenPath(tmp))),
      // a block-max sidecar is REBUILT from the rewritten files INTO the
      // scaffold (rel file keys are path-prefix-independent, so rows
      // derived under tmp stay valid after the rename) — pre-swap, so a
      // crash can never leave a compacted store whose caps describe
      // files that no longer exist. Rebuilt BEFORE the vocab so the
      // vocab can derive from its rows: per-term df is Σ cnt over a
      // file partition of the postings (files never share a (doc_id, w)
      // row), so compaction reads the store once, not once per sidecar.
      // Stores carrying only `_vocab` keep the direct scan.
      () => {
        if (hasBlockmax)
          deriveBlockRows(spark, tmp, files)
            .coalesce(1).write.mode("overwrite").parquet(blockmaxPath(tmp))
        vocabHwm.foreach { hwm =>
          val vocabSrc =
            if (hasBlockmax)
              readKnown(spark, blockmaxPath(tmp))
                .groupBy(col("w")).agg(sum(col("cnt")).cast("long").as("df"))
            else
              readKnown(spark, tmp).select(col("doc_id"), col("w"))
                .groupBy(col("w")).agg(count(lit(1)).as("df"))
          vocabSrc
            .select(lit(hwm).as("bid"), col("w"), col("df"),
              reverse(col("w")).as("rw"))
            .coalesce(1).sortWithinPartitions(col("rw"))
            .write.mode("overwrite").parquet(vocabPath(tmp))
          memoVocabHwm(spark, storeDir, vocabPath(tmp), hwm)
        }
      })
    // the rebuilt block-max sidecar covers exactly the rewritten files:
    // memoed under its scaffold listing, the next append's coverage
    // check reads nothing
    if (hasBlockmax)
      memoBlockCovered(spark, storeDir, blockmaxPath(tmp), files.toSet)
    // the positional marker is part of the layout — carry it or the
    // compacted store would silently refuse phrase serves
    if (positional) writeMarker(spark, tmp)
    HadoopSwap.swapInto(spark, tmp, storeDir, aside)
    (before, SkippingStore.listDataFileRelPaths(spark, storeDir).size)
  }

  // ------------------------------------------------------------------
  // POSITIONAL postings — the phrase-search extension of the store.
  // [[graft.operators.Curation.phraseSearch]] (q193) re-tokenizes the
  // whole corpus per query, exactly the shape this store exists to
  // kill: here each posting carries its sorted in-document position
  // list `(tb, w, doc_id, tf, dl, pos)`, so exact adjacency is served
  // from the terms' buckets alone — same bucket hash, same (tb, w)
  // clustering, same w-zone sidecar and corpus-stats discipline as
  // the bag-of-terms store. Position lists match phraseSearch
  // verbatim (whitespace split, empty tokens dropped, 0-based
  // posexplode positions), and since the stats unification the
  // postings ALSO carry the bag store's exact `(w, tf, dl)` contract
  // (`""` postings included, dl unfiltered — see
  // [[tokenizedPositional]]), so the ranking serves accept a
  // positional store: one index serves BM25 + LM + phrase + NEAR +
  // KWIC + SpanNot. A `_positional` marker file keeps the two posting
  // schemas from silently mixing: [[append]] refuses a positional
  // store and [[appendPositional]] refuses a bag-of-terms one (the
  // position list is physical layout, not serve capability).

  private def positionalMarker(dir: String) = s"$dir/_positional"

  private def writeMarker(spark: SparkSession, dir: String): Unit = {
    val fs = graft.sinks.HadoopSwap.fs(spark, dir)
    fs.create(new org.apache.hadoop.fs.Path(positionalMarker(dir)), true)
      .close()
  }

  private[graft] def isPositional(spark: SparkSession, dir: String): Boolean =
    graft.sinks.HadoopSwap.exists(spark, positionalMarker(dir))

  /** One row per document for the positional path. Positions come
    * from the FILTERED token stream ([[Curation.phraseSearch]]'s
    * tokenizer, verbatim — empty tokens dropped before posexplode, so
    * store-served adjacency is bit-stable with the scan-everything
    * path) — but the postings carry the bag-of-terms store's FULL
    * stats contract: `dl` is the UNFILTERED whitespace token count
    * (the value [[tokenized]] observes and `_doclen` prices deletes
    * with), and the empty tokens the position stream drops are
    * re-appended at the ARRAY TAIL so their `""` term survives the
    * same single-pass explode with its exact bag-contract `tf`
    * ([[positionalFrom]] blanks its meaningless tail positions). With
    * identical `(w, tf, dl)` semantics in both store kinds, ranking
    * serves ([[topK]]/[[topKBatch]]/[[lmTopK]]) accept either layout
    * — ONE positional store serves BM25 + LM + phrase + NEAR + KWIC +
    * SpanNot, instead of a deployment paying 2× index storage for the
    * two families. Non-empty tokens keep their exact filtered
    * positions (the tail append is strictly after them), so every
    * span serve is byte-identical to the previous layout.
    *
    * Positional stores written BEFORE this unification carry no `""`
    * postings (and no `""` bit in the term filter): ranking serves on
    * such a store are still exact for every non-empty query term —
    * rebuild only if empty-string query terms matter. */
  private def tokenizedPositional(docs: DataFrame, idCol: String,
                                  textCol: String,
                                  obs: Option[Observation]): DataFrame = {
    val ft = filter(col("toks"), w => length(w) > 0)
    tokenized(docs, idCol, textCol, obs)
      .withColumn("toks",
        concat(ft, array_repeat(lit(""), size(col("toks")) - size(ft))))
  }

  private def positionalFrom(pre: DataFrame, nBuckets: Int): DataFrame =
    pre.select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("p", "w")))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos"))
      // `""` rode the tail only so its tf survived the one explode —
      // its tail indices are not positions in the filtered stream, so
      // they must not feed span algebra: an empty list makes every
      // phrase/NEAR/KWIC serve involving `""` answer exactly like the
      // scan path (whose filtered stream never contains it)
      .withColumn("pos", when(col("w") === "",
        typedLit(Seq.empty[Int])).otherwise(col("pos")))
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nBuckets)).cast("int"))

  /** Per-(doc, term) positional postings with the frozen bucket key —
    * the un-observed form, for callers outside the ingest hot path. */
  private def positionalPostings(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 nBuckets: Int): DataFrame =
    positionalFrom(tokenizedPositional(docs, idCol, textCol, None),
      nBuckets)

  /** Build the positional postings store — [[build]]'s layout with the
    * position list riding each posting. */
  def buildPositional(docs: DataFrame, idCol: String, textCol: String,
                      storeDir: String, nBuckets: Int,
                      filesPerBucket: Int = 1,
                      marker: Option[Long] = None): Unit = {
    require(nBuckets >= 1 && filesPerBucket >= 1,
      "need at least one bucket and one file per bucket")
    ingest(docs, idCol, textCol, storeDir, Some(nBuckets), filesPerBucket,
      marker, positional = true)
  }

  /** Append a batch to a positional store — batch-only tokenize,
    * frozen bucket hash, sidecar extension, stats bump; the
    * [[append]] cost model with positions. */
  def appendPositional(newDocs: DataFrame, idCol: String, textCol: String,
                       storeDir: String, filesPerBucket: Int = 1,
                       marker: Option[Long] = None): Unit = {
    require(filesPerBucket >= 1, "need at least one file per bucket")
    require(isPositional(newDocs.sparkSession, storeDir),
      s"$storeDir is a bag-of-terms store — append with TextIndex.append")
    ingest(newDocs, idCol, textCol, storeDir, None, filesPerBucket, marker,
      positional = true)
  }

  /** Store-served EXACT phrase search — bit-stable with
    * [[graft.operators.Curation.phraseSearch]] over the store's
    * documents, without touching a document: reads only the phrase
    * terms' buckets (partition pruning on the writer's own hash, like
    * [[topK]]) and the w-zone-surviving files inside them, then
    * intersects shifted position lists per document —
    * `pos(w_i) - i` across the phrase — so a surviving position IS a
    * phrase start. Joins are postings-list-sized; the corpus never
    * appears in the plan. Returns (doc_id, n_occurrences), matching
    * docs only. */
  def phraseSearch(spark: SparkSession, storeDir: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a 1-token phrase is a plain term lookup")
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    import spark.implicits._
    val (_, _, nb) = readStats(spark, storeDir)
    val terms = phrase.distinct
    // ANY provably-absent term means zero phrase matches — answer
    // without opening a single bucket
    val live = readTermFilter(spark, storeDir)
      .fold(terms)(bits => presentTerms(spark, terms, bits)).toSet
    if (terms.exists(t => !live(t)))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_occurrences", lit(0L))
    val buckets = bucketsOf(terms, nb)
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(terms: _*))
        .select(col("doc_id"), col("w"), col("pos")))
    // RAREST-FIRST fold order: each slot's contribution is the set
    // {pos(w_i) - i} and set intersection commutes, so the fold may
    // run in any slot order — starting at the sketch-estimated
    // rarest term makes the FIRST frame (and every intermediate
    // join) rarest-df-sized instead of first-term-sized. Estimates
    // only pick the order; a missing/stale sketch degrades to the
    // written phrase order, never a different answer.
    val matched = phraseFold(spark, storeDir, post, phrase)
    matched.select(col("doc_id"),
      size(col("acc")).cast("long").as("n_occurrences"))
  }

  /** Store-served BM25 with PSEUDO-RELEVANCE-FEEDBACK expansion — the
    * RM/Rocchio family's deterministic core: serve the original terms
    * ([[topK]]), take the top `fbDocs` documents as assumed-relevant
    * feedback, mine their `fbTerms` strongest NEW terms (total term
    * frequency across the feedback docs, ties by term ascending;
    * original terms and empty tokens excluded), and re-serve the
    * expanded term set. Two store serves plus one fbDocs-sized corpus
    * probe — the feedback docs' texts come from `corpus` via a
    * left-semi join on the id (postings are term-major, so mining a
    * doc's terms from the STORE would be a full-store scan; the
    * corpus row lookup is the scale-correct access path, and rides
    * whatever id skipping the corpus layout carries). The expansion
    * set is fbTerms-bounded and driver-held, like every query term
    * set. Deterministic end to end, so the scan oracle reproduces the
    * expansion AND the final ranking exactly. */
  def topKExpanded(spark: SparkSession, storeDir: String,
                   corpus: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String], k: Int,
                   fbDocs: Int = 5, fbTerms: Int = 3,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      "need at least one feedback doc and a non-negative expansion size")
    val fb = topK(spark, storeDir, terms, fbDocs, k1, b)
      .select(col("doc_id"))
    val expansion = corpus
      .join(fb, corpus(idCol) === fb("doc_id"), "left_semi")
      .select(explode(split(col(textCol), TOK)).as("w"))
      .filter(col("w") =!= "" && !col("w").isin(terms: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("w"))
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    topK(spark, storeDir, terms ++ expansion, k, k1, b)
  }

  /** BATCHED pseudo-relevance-feedback expansion — [[topKExpanded]]
    * for a whole query FRAME `(qidCol, termsCol: array<string>)`,
    * served as FOUR jobs for the entire batch (vs 2×N store serves +
    * N driver round-trips for a per-query loop): one batched seed
    * serve ([[topKBatch]], k = fbDocs), one corpus probe sized by the
    * batch's union of feedback docs, the per-query top-fbTerms mined
    * with a query-partitioned window (tf desc, term — the single
    * API's exact tiebreak), and one batched expanded serve. Unlike
    * the single API the expansion never touches the driver: each
    * query's seed exclusion is an anti-join on (query_id, term) and
    * the mined terms union back engine-side. Per query the rows are
    * bit-identical to [[topKExpanded]] with the same parameters.
    * Returns (query_id, doc_id, n_terms, score). */
  def topKExpandedBatch(spark: SparkSession, storeDir: String,
                        corpus: DataFrame, idCol: String, textCol: String,
                        queries: DataFrame, qidCol: String,
                        termsCol: String, k: Int,
                        fbDocs: Int = 5, fbTerms: Int = 3,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      "need at least one feedback doc and a non-negative expansion size")
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      array_distinct(col(termsCol)).as("terms"))
    require(q.filter(col("terms").isNull || size(col("terms")) < 1)
        .limit(1).count() == 0L,
      "every PRF query needs at least one seed term (none may be NULL)")
    // three consumers (seed serve, exclusion anti-join, final union) —
    // checkpoint so they cannot diverge
    val qc = q.localCheckpoint()
    val fb = topKBatch(spark, storeDir, qc, "query_id", "terms", fbDocs,
        k1, b)
      .select(col("query_id"), col("doc_id"))
    val seedPairs = qc.select(col("query_id"), explode(col("terms")).as("w"))
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("tf").desc, col("w"))
    val expanded = fb
      .join(corpus.select(col(idCol).as("doc_id"),
        split(col(textCol), TOK).as("toks")), Seq("doc_id"))
      .select(col("query_id"), explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .join(seedPairs, Seq("query_id", "w"), "left_anti")
      .groupBy(col("query_id"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("_r", row_number().over(wExp))
      .filter(col("_r") <= fbTerms)
      .select(col("query_id"), col("w"))
    val finalTerms = seedPairs.union(expanded)
      .groupBy(col("query_id")).agg(collect_set(col("w")).as("terms"))
    topKBatch(spark, storeDir, finalTerms, "query_id", "terms", k, k1, b)
  }

  /** Store-served PROXIMITY (NEAR) search — docs where `a` and `b`
    * co-occur within `slop` token positions, from the positional
    * store's postings alone: the Lucene SpanNear shape, served like
    * [[phraseSearch]] (two terms' buckets partition-prune, w-zone
    * survivors inside them, corpus never in the plan). `ordered`
    * demands `b` AFTER `a` (gap 1..slop — slop 1 is exact adjacency);
    * unordered counts either direction. Returns (doc_id, n_pairs)
    * with n_pairs = the number of qualifying position pairs, matching
    * docs only — the per-doc pair scan is tf(a)×tf(b) bounded, never
    * corpus-shaped. Either term provably absent answers empty without
    * opening a bucket. */
  def nearSearch(spark: SparkSession, storeDir: String,
                 a: String, b: String, slop: Int,
                 ordered: Boolean = false): DataFrame = {
    require(slop >= 1, "slop is a positive token distance")
    require(a != b,
      "NEAR of a term with itself is a tf lookup, not a proximity query")
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val (_, _, nb) = readStats(spark, storeDir)
    import spark.implicits._
    val live = readTermFilter(spark, storeDir)
      .fold(Seq(a, b))(bits => presentTerms(spark, Seq(a, b), bits)).toSet
    if (!(live(a) && live(b)))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_pairs", lit(0L))
    val buckets = bucketsOf(Seq(a, b), nb)
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(a, b))
        .select(col("doc_id"), col("w"), col("pos")))
    val pa = post.filter(col("w") === a)
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = post.filter(col("w") === b)
      .select(col("doc_id"), col("pos").as("pb"))
    val cond: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column =
      if (ordered) (x, y) => y > x && y - x <= slop
      else (x, y) => abs(y - x) <= slop
    pa.join(pb, Seq("doc_id"))
      .select(col("doc_id"),
        size(flatten(transform(col("pa"),
          x => filter(col("pb"), y => cond(x, y)))))
          .cast("long").as("n_pairs"))
      .filter(col("n_pairs") > 0)
  }

  /** Store-served DIRICHLET query-likelihood ranking — the language-
    * model ranker next to BM25 (Lucene's LMDirichletSimilarity shape):
    * per matching (doc, term),
    * `log(1 + tf/(mu*ctf/|C|)) + log(mu/(dl+mu))`, summed over the
    * query terms the doc carries; matching docs only, ties
    * (score desc, doc_id). Every input is already in the store:
    * collection term frequency `ctf` is the SUM of tf over the term's
    * bucket (a term's postings live entirely inside it — exact, like
    * BM25's df), `|C|` and the doc count come from `_corpus_stats`,
    * `dl` rides each posting. Same three-layer pruning, same
    * tombstone discipline, same round-to-6/DECIMAL accumulation as
    * [[topK]], so the oracle reproduces scores bit-for-bit. */
  def lmTopK(spark: SparkSession, storeDir: String, terms: Seq[String],
             k: Int, mu: Double = 2000.0): DataFrame =
    rank(spark, storeDir, terms, k, Lm(mu))

  /** BATCHED Dirichlet LM ranking — [[lmTopK]] for a whole query
    * FRAME `(idCol, termsCol: array<string>)`, served in ONE job with
    * the [[topKBatch]] shape: provably-absent terms drop engine-side
    * before the bucket union is collected, every probed bucket is
    * read once for all the queries probing it, the terms-sized `ctf`
    * frame broadcasts once and is shared by every query carrying the
    * term, and the per-query top-k runs through the bounded
    * [[graft.functions.TopK]] aggregator. Per query, rows are
    * bit-identical to [[lmTopK]] with the same term set (same
    * rounding, DECIMAL accumulation, (score desc, doc_id) tiebreak).
    * Returns (query_id, doc_id, n_terms, score). */
  def lmTopKBatch(spark: SparkSession, storeDir: String,
                  queries: DataFrame, idCol: String, termsCol: String,
                  k: Int, mu: Double = 2000.0): DataFrame =
    rankBatch(spark, storeDir, queries, idCol, termsCol, k, Lm(mu))

  /** SPAN-NOT search — occurrences of `a` NOT within `slop` positions
    * of any `b` (the Lucene SpanNot shape, [[nearSearch]]'s exclusion
    * sibling): per doc, the count of `a`'s positions with no `b` in
    * their ±slop window; docs with at least one clear occurrence
    * match. A `b` provably absent from the store means EVERY `a`
    * occurrence is clear — only `a`'s bucket opens. Same three-layer
    * pruning and tf(a)×tf(b)-bounded pair algebra as NEAR. Returns
    * (doc_id, n_clear), matching docs only. */
  def notNearSearch(spark: SparkSession, storeDir: String,
                    a: String, b: String, slop: Int): DataFrame = {
    require(slop >= 1, "slop is a positive token distance")
    require(a != b, "SpanNot of a term with itself excludes everything")
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val (_, _, nb) = readStats(spark, storeDir)
    import spark.implicits._
    val live = readTermFilter(spark, storeDir)
      .fold(Seq(a, b))(bits => presentTerms(spark, Seq(a, b), bits)).toSet
    if (!live(a))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_clear", lit(0L))
    val terms = Seq(a, b).filter(live)
    val buckets = bucketsOf(terms, nb)
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(terms: _*))
        .select(col("doc_id"), col("w"), col("pos")))
    val pa = post.filter(col("w") === a)
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = post.filter(col("w") === b)
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(filter(col("pa"), x =>
          col("pb").isNull ||
            size(filter(col("pb"), y => abs(y - x) <= slop)) === 0))
          .cast("long").as("n_clear"))
      .filter(col("n_clear") > 0)
      .orderBy(col("doc_id"))
  }

  /** BATCHED span-exclusion search — [[notNearSearch]] for a whole
    * query FRAME `(idCol, aCol, bCol, slopCol)`, served in ONE job
    * with the [[nearSearchBatch]] shape: role-tagged slots, one
    * partition-pruned read of the batch's bucket union, per-(query,
    * doc) position algebra with each query's own slop. Bloom pruning
    * is ROLE-AWARE, matching the single API exactly: a query whose
    * KEPT term `a` is provably absent drops whole (zero matches), but
    * a provably-absent EXCLUSION term `b` drops only its slot — every
    * `a` occurrence is clear and `b`'s bucket never opens
    * ([[markBloomDead]]). Per query, rows are bit-identical to the
    * per-query loop. Returns (query_id, doc_id, n_clear), matching
    * docs only. */
  def notNearSearchBatch(spark: SparkSession, storeDir: String,
                         queries: DataFrame, idCol: String, aCol: String,
                         bCol: String, slopCol: String): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(aCol).as("a"), col(bCol).as("b"),
      col(slopCol).cast("int").as("slop"))
    // degenerate rows refuse loudly, matching the single-query API
    require(q.filter(col("a").isNull || col("b").isNull ||
        col("slop").isNull || col("slop") < 1 || col("a") === col("b"))
        .limit(1).count() == 0L,
      "every SpanNot query needs two distinct non-null terms and " +
        "slop >= 1")
    val (_, _, nb) = readStats(spark, storeDir)
    val slots = q.select(col("query_id"), col("slop"),
      explode(map(lit("a"), col("a"), lit("b"), col("b")))
        .as(Seq("role", "w")))
    val marked = markBloomDead(spark, storeDir, slots)
    // dead KEPT term → whole query out; dead EXCLUSION term → only its
    // slot out (the query stays, served from `a`'s bucket alone)
    val deadQ = marked.filter(col("role") === "a" && col("_dead"))
      .select(col("query_id")).distinct()
    val (qslots, buckets) = checkpointWithBuckets(
      marked.filter(!col("_dead")).drop("_dead")
      .join(deadQ, Seq("query_id"), "left_anti")
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int")))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn("n_clear", lit(0L))
        .select(col("query_id"), col("doc_id"), col("n_clear"))
    val terms = qslots.select(col("w")).distinct()
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w"), col("pos")))
    post.join(qslots.select(col("query_id"), col("slop"), col("role"),
        col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"), col("slop"))
      .agg(
        first(when(col("role") === "a", col("pos")), ignoreNulls = true)
          .as("pa"),
        first(when(col("role") === "b", col("pos")), ignoreNulls = true)
          .as("pb"))
      .filter(col("pa").isNotNull)
      .select(col("query_id"), col("doc_id"),
        size(filter(col("pa"), x =>
          col("pb").isNull ||
            size(filter(col("pb"), y => abs(y - x) <= col("slop"))) === 0))
          .cast("long").as("n_clear"))
      .filter(col("n_clear") > 0)
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** BATCHED proximity search — [[nearSearch]] for a whole query FRAME
    * `(idCol, aCol, bCol, slopCol)`, served in ONE job: per query the
    * rows are bit-identical to the per-query loop, but every probed
    * bucket is read once for all the queries probing it (the
    * [[topKBatch]]/[[phraseSearchBatch]] family shape). Plan: the two
    * terms per query unpivot to role-tagged slots map-side, a query
    * with EITHER term provably absent drops whole before the bucket
    * union is collected ([[dropBloomDeadQueries]]), the store scan
    * partition-prunes to the surviving union, postings join the
    * localCheckpointed slot frame on `w` with no forced hint, and the
    * per-(query, doc) pair count runs the same position algebra as the
    * single serve with each query's own slop — tf(a)×tf(b) bounded,
    * never corpus-shaped. `ordered` applies to the whole batch,
    * matching the single API's flag. Returns
    * (query_id, doc_id, n_pairs), matching docs only. */
  def nearSearchBatch(spark: SparkSession, storeDir: String,
                      queries: DataFrame, idCol: String, aCol: String,
                      bCol: String, slopCol: String,
                      ordered: Boolean = false): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(aCol).as("a"), col(bCol).as("b"),
      col(slopCol).cast("int").as("slop"))
    // degenerate rows refuse loudly, matching the single-query API —
    // a NULL term would silently vanish from the output instead
    require(q.filter(col("a").isNull || col("b").isNull ||
        col("slop").isNull || col("slop") < 1 || col("a") === col("b"))
        .limit(1).count() == 0L,
      "every NEAR query needs two distinct non-null terms and slop >= 1")
    val (_, _, nb) = readStats(spark, storeDir)
    val slots = q.select(col("query_id"), col("slop"),
      explode(map(lit("a"), col("a"), lit("b"), col("b")))
        .as(Seq("role", "w")))
    val (qslots, buckets) = checkpointWithBuckets(
      dropBloomDeadQueries(spark, storeDir, slots)
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int")))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn("n_pairs", lit(0L))
        .select(col("query_id"), col("doc_id"), col("n_pairs"))
    val terms = qslots.select(col("w")).distinct()
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w"), col("pos")))
    val cond: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
      if (ordered) (x, y, s) => y > x && y - x <= s
      else (x, y, s) => abs(y - x) <= s
    post.join(qslots.select(col("query_id"), col("slop"), col("role"),
        col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"), col("slop"))
      .agg(
        first(when(col("role") === "a", col("pos")), ignoreNulls = true)
          .as("pa"),
        first(when(col("role") === "b", col("pos")), ignoreNulls = true)
          .as("pb"))
      .filter(col("pa").isNotNull && col("pb").isNotNull)
      .select(col("query_id"), col("doc_id"),
        size(flatten(transform(col("pa"),
          x => filter(col("pb"), y => cond(x, y, col("slop"))))))
          .cast("long").as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** CONTEXT-WINDOW extraction around a term's matches — the
    * training-data span shape (retrieval-pair mining, span redaction
    * review, concordance/KWIC views): for every occurrence of `term`,
    * the ±`width`-token window of the document's (filtered) token
    * stream, clipped at the edges.
    *
    * The POSITIONAL STORE finds the occurrences (the term's bucket
    * only — the corpus is never scanned for matches); the window TEXT
    * comes from `corpus` via an id join of only the matching docs
    * (postings are term-major; document reconstruction is the corpus
    * row lookup's job, and rides whatever id skipping its layout
    * carries). Cost: one bucket read + a matching-docs-sized corpus
    * probe + per-occurrence slicing. Returns (doc_id, pos, snippet),
    * pos = the 0-based match position in the filtered token stream. */
  def contextWindows(spark: SparkSession, storeDir: String,
                     corpus: DataFrame, idCol: String, textCol: String,
                     term: String, width: Int): DataFrame = {
    require(width >= 0, "width is a non-negative token radius")
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val (_, _, nb) = readStats(spark, storeDir)
    val live = readTermFilter(spark, storeDir)
      .fold(Seq(term))(bits => presentTerms(spark, Seq(term), bits))
    if (live.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("pos", lit(0L)).withColumn("snippet", lit(""))
    val bucket = pmod(xxhash64(lit(term)), lit(nb)).cast("int")
    val hits = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb") === bucket && col("w") === term)
        .select(col("doc_id"), col("pos")))
    hits
      .join(corpus.select(col(idCol).as("doc_id"),
        filter(split(col(textCol), TOK), w => length(w) > 0).as("toks")),
        Seq("doc_id"))
      .select(col("doc_id"), col("toks"), explode(col("pos")).as("_p"))
      .withColumn("pos", col("_p").cast("long"))
      .withColumn("_s0", greatest(lit(0L), col("pos") - width))
      .withColumn("_e0",
        least(size(col("toks")).cast("long") - 1L, col("pos") + width))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("toks"), (col("_s0") + 1L).cast("int"),
          (col("_e0") - col("_s0") + 1L).cast("int")), " ").as("snippet"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** BATCHED context-window extraction — [[contextWindows]] for a
    * whole query FRAME `(idCol, termCol, widthCol)`, served in ONE
    * job: per query the rows are bit-identical to the per-query loop,
    * but every probed bucket is read once for all the queries probing
    * it and the corpus probe is ONE matching-docs-sized join for the
    * whole batch (the [[phraseSearchBatch]] family shape). A query
    * whose term is provably absent drops whole before the bucket
    * union is collected ([[dropBloomDeadQueries]]); the window slice
    * runs with each query's own width. Returns
    * (query_id, doc_id, pos, snippet). */
  def kwicBatch(spark: SparkSession, storeDir: String,
                corpus: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, qidCol: String, termCol: String,
                widthCol: String): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      col(termCol).as("w"), col(widthCol).cast("int").as("width"))
    // degenerate rows refuse loudly, matching the single-query API —
    // a NULL term would silently vanish from the output instead
    require(q.filter(col("w").isNull || col("width").isNull ||
        col("width") < 0).limit(1).count() == 0L,
      "every KWIC query needs a non-null term and width >= 0")
    val (_, _, nb) = readStats(spark, storeDir)
    val (qslots, buckets) = checkpointWithBuckets(
      dropBloomDeadQueries(spark, storeDir, q)
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int")))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn("pos", lit(0L)).withColumn("snippet", lit(""))
        .select(col("query_id"), col("doc_id"), col("pos"),
          col("snippet"))
    val terms = qslots.select(col("w")).distinct()
    val hits = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w"), col("pos")))
    hits.join(qslots.select(col("query_id"), col("w"), col("width")),
        Seq("w"))
      .join(corpus.select(col(idCol).as("doc_id"),
        filter(split(col(textCol), TOK), w => length(w) > 0).as("toks")),
        Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("toks"), col("width"),
        explode(col("pos")).as("_p"))
      .withColumn("pos", col("_p").cast("long"))
      .withColumn("_s0", greatest(lit(0L), col("pos") - col("width")))
      .withColumn("_e0",
        least(size(col("toks")).cast("long") - 1L, col("pos") + col("width")))
      .select(col("query_id"), col("doc_id"), col("pos"),
        array_join(slice(col("toks"), (col("_s0") + 1L).cast("int"),
          (col("_e0") - col("_s0") + 1L).cast("int")), " ").as("snippet"))
      .orderBy(col("query_id"), col("doc_id"), col("pos"))
  }

  /** The slot evaluation order for a phrase fold: ascending estimated
    * df (count-min read from `_corpus_stats`), slot index breaking
    * ties; the written order when the store carries no sketch.
    * Exposed for the spec — the ORDER is plan shape, the answer is
    * order-invariant. */
  private[graft] def phraseSlotOrder(spark: SparkSession, storeDir: String,
                                     phrase: Seq[String]): Seq[(String, Int)] = {
    val slots = phrase.zipWithIndex
    readDfSketch(spark, storeDir).fold(slots) { sk =>
      val est = estimatedDf(spark, phrase.distinct, sk)
      slots.sortBy { case (w, i) => (est(w), i) }
    }
  }

  /** Conjunctive (boolean AND) containment — the docs holding EVERY
    * query term, from either store kind's postings (both carry
    * (doc_id, w) rows). The term chain intersects via left-semi joins
    * ordered rarest-first by the df sketch, so every intermediate
    * frame is bounded by the rarest term's postings — the classic
    * inverted-index intersection discipline; a missing sketch
    * degrades to the given order, never a different answer. Any
    * provably-absent term answers empty with zero buckets opened.
    * Returns matching doc_ids, ascending. */
  def containingAll(spark: SparkSession, storeDir: String,
                    terms: Seq[String]): DataFrame =
    containingAllMatches(spark, storeDir, terms).orderBy(col("doc_id"))

  /** [[containingAll]]'s match set without the presentation sort —
    * the composable form ([[facetCounts]] feeds it straight into a
    * join, where a pre-sort would only add an exchange). */
  private def containingAllMatches(spark: SparkSession, storeDir: String,
                                   terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val distinct = terms.distinct
    import spark.implicits._
    val live = readTermFilter(spark, storeDir)
      .fold(distinct)(bits => presentTerms(spark, distinct, bits)).toSet
    if (distinct.exists(t => !live(t)))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
    val (_, _, nb) = readStats(spark, storeDir)
    val buckets = bucketsOf(distinct, nb)
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(distinct: _*))
        .select(col("doc_id"), col("w")))
    val order = readDfSketch(spark, storeDir).fold(distinct) { sk =>
      val est = estimatedDf(spark, distinct, sk)
      distinct.sortBy(w => (est(w), w))
    }
    order.tail.foldLeft(
        post.filter(col("w") === order.head).select(col("doc_id"))) {
      (acc, w) =>
        acc.join(post.filter(col("w") === w).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
    }
  }

  /** FACETED search (the Solr/Elasticsearch facet-count shape): the
    * documents holding EVERY query term ([[containingAll]]'s
    * rarest-first semi-join chain — bucket-pruned, tombstone-exact),
    * bucketed by a corpus metadata column with per-facet doc counts.
    * The metadata join touches the corpus table once, filtered to the
    * matches; the facet aggregate is partial-before-shuffle. Join
    * strategy is AQE's call — the match set is corpus-proportional
    * for common terms, so forcing a broadcast here would be the
    * knnClassify anti-pattern (VERDICT r6). Returns
    * (facet, n_docs), most-populated facet first. */
  def facetCounts(spark: SparkSession, storeDir: String,
                  terms: Seq[String], corpus: DataFrame, idCol: String,
                  facetCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("doc_id"),
        col(facetCol).as("facet"))
      .join(containingAllMatches(spark, storeDir, terms), Seq("doc_id"))
      .groupBy(col("facet"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet"))

  /** Numeric RANGE facets (Solr's `facet.range`): the conjunctive
    * match set bucketed into `[lo, hi)` ranges over a numeric corpus
    * column. Every requested range appears in the output — zero-count
    * included (Solr parity); values outside
    * `[bounds.head, bounds.last)` fall out. The ranges are a handful
    * of driver literals, so the bucketing theta-join broadcasts them
    * over the match set; the facet aggregate is
    * partial-before-shuffle. Returns (lo, hi, n_docs) by lo. */
  def facetRangeCounts(spark: SparkSession, storeDir: String,
                       terms: Seq[String], corpus: DataFrame,
                       idCol: String, numCol: String,
                       bounds: Seq[Double]): DataFrame = {
    require(bounds.size >= 2, "need at least one range (two bounds)")
    require(bounds.zip(bounds.tail).forall { case (a, b) => a < b },
      "range bounds must be strictly increasing")
    import spark.implicits._
    val ranges = bounds.zip(bounds.tail).toDF("lo", "hi")
    val counts = corpus
      .select(col(idCol).cast("long").as("doc_id"),
        col(numCol).cast("double").as("v"))
      .join(containingAllMatches(spark, storeDir, terms), Seq("doc_id"))
      .join(broadcast(ranges), col("v") >= col("lo") && col("v") < col("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_docs"))
    ranges.join(counts, Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("lo"))
  }

  /** Per-facet TOP-K documents (Solr grouping / field collapse): the
    * conjunctive match set ranked by its FULL BM25 score over the
    * query terms, k best per facet. The per-facet ranking rides the
    * bounded [[graft.functions.TopK]] aggregator (k tuples per task,
    * map-side partial — a hot facet never funnels its whole match set
    * through one sort), with the rank recomputed over the k-bounded
    * survivors for the output. Scoring inputs (df, n, avgdl) are
    * [[topK]]'s exactly, so a doc's score here equals its score in
    * the plain ranked serve. Returns (facet, rnk, doc_id, score) by
    * (facet, rnk). */
  def facetTopDocs(spark: SparkSession, storeDir: String,
                   terms: Seq[String], corpus: DataFrame, idCol: String,
                   facetCol: String, k: Int, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame = {
    require(k >= 1, "need at least one slot per facet")
    import spark.implicits._
    def empty() = corpus.select(col(facetCol).as("facet")).limit(0)
      .withColumn("rnk", lit(0))
      .withColumn("doc_id", lit(0L)).withColumn("score", lit(0.0))
    val distinct = terms.distinct
    val live = readTermFilter(spark, storeDir)
      .fold(distinct)(bits => presentTerms(spark, distinct, bits))
    // conjunctive semantics: a provably-absent term empties the match
    // set before any bucket opens
    if (live.size < distinct.size) return empty()
    val (n, sdl, nb) = readStats(spark, storeDir)
    val buckets = bucketsOf(live, nb)
    val tf = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(live: _*)))
    // [[topK]]'s statistic and scoring expressions
    val sc = Bm25(k1, b)
    val dfT = tf.groupBy(col("w")).agg(sc.statAgg.as(sc.stat))
    val scores = sc.score(broadcast(dfT), n, sdl)(tf)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("facet"))
      .orderBy(col("score").desc, col("doc_id"))
    corpus.select(col(idCol).cast("long").as("doc_id"),
        col(facetCol).as("facet"))
      .join(containingAllMatches(spark, storeDir, terms), Seq("doc_id"))
      .join(scores, Seq("doc_id"))
      .groupBy(col("facet"))
      .agg(graft.functions.TopK.top_k(k)(col("doc_id"), col("score"))
        .as("hits"))
      .select(col("facet"), explode(col("hits")).as("hit"))
      .select(col("facet"), col("hit._1").as("doc_id"),
        col("hit._2").as("score"))
      // the rank window runs over k-bounded survivors per facet, not
      // the raw match set
      .withColumn("rnk", row_number().over(wr))
      .select(col("facet"), col("rnk"), col("doc_id"), col("score"))
      .orderBy(col("facet"), col("rnk"))
  }

  /** BATCHED conjunctive containment — [[containingAll]] for a whole
    * query FRAME `(idCol, termsCol: array<string>)`, served in ONE
    * job; per query the rows are identical to the per-query serve.
    * The per-query rarest-first semi-join chain does not batch (each
    * query would need its own chain), so the batched plan uses the
    * cover-every-slot discipline of [[phraseSearchBatch]] instead: a
    * doc matches when its distinct matched terms COUNT the query's
    * distinct term count. Still bucket-pruned to the batch's union,
    * still Bloom-dropping dead queries whole, still tombstone-masked;
    * the trade is reading every query term's postings (not just the
    * rarest chain's survivors) in exchange for one pass over the
    * probed buckets for the whole batch. Returns (query_id, doc_id),
    * ascending. */
  def containingAllBatch(spark: SparkSession, storeDir: String,
                         queries: DataFrame, idCol: String,
                         termsCol: String): DataFrame =
    containingAllBatchMatches(spark, storeDir, queries, idCol, termsCol)
      .orderBy(col("query_id"), col("doc_id"))

  /** [[containingAllBatch]]'s match set without the presentation sort
    * — the composable form ([[facetCountsBatch]] feeds it straight
    * into a join). */
  private def containingAllBatchMatches(spark: SparkSession,
                                        storeDir: String,
                                        queries: DataFrame, idCol: String,
                                        termsCol: String): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      array_distinct(col(termsCol)).as("terms"))
    // size(NULL)/empty guards refuse loudly, matching the single API
    require(q.filter(col("terms").isNull || size(col("terms")) < 1)
        .limit(1).count() == 0L,
      "every containment query needs at least one term (none may be NULL)")
    val (_, _, nb) = readStats(spark, storeDir)
    val slots = q.select(col("query_id"), size(col("terms")).as("tcount"),
      explode(col("terms")).as("w"))
    val (qslots, buckets) = checkpointWithBuckets(
      dropBloomDeadQueries(spark, storeDir, slots)
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int")))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .select(col("query_id"), col("doc_id"))
    val terms = qslots.select(col("w")).distinct()
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w")))
    post.join(qslots.select(col("query_id"), col("tcount"), col("w")),
        Seq("w"))
      .groupBy(col("query_id"), col("doc_id"), col("tcount"))
      // DISTINCT matched terms, not matched posting rows: a doc_id
      // re-appended after churn can carry duplicate (doc_id, w) rows,
      // and row counting would false-positive a doc holding only a
      // subset of the query terms — the single-query API's semi-join
      // chain is set-based, so the batch must be too
      .agg(countDistinct(col("w")).as("nmatched"))
      .filter(col("nmatched") === col("tcount"))
      .select(col("query_id"), col("doc_id"))
  }

  /** BATCHED faceted search — [[facetCounts]] for a whole
    * `(idCol, termsCol)` query frame: the batched conjunctive match
    * set ([[containingAllBatch]]'s one-bucket-union-read shape) joins
    * the corpus metadata ONCE for every query, and the facet rollup
    * aggregates per (query, facet) partial-before-shuffle. Dead
    * queries drop whole; no forced broadcast (the match set is
    * corpus-proportional for common terms). Returns
    * (query_id, facet, n_docs). */
  def facetCountsBatch(spark: SparkSession, storeDir: String,
                       queries: DataFrame, idCol: String,
                       termsCol: String, corpus: DataFrame,
                       docIdCol: String, facetCol: String): DataFrame =
    corpus.select(col(docIdCol).cast("long").as("doc_id"),
        col(facetCol).as("facet"))
      .join(containingAllBatchMatches(spark, storeDir, queries, idCol,
        termsCol), Seq("doc_id"))
      .groupBy(col("query_id"), col("facet"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("query_id"), col("n_docs").desc, col("facet"))

  /** Fold the shifted-position intersection over the phrase slots in
    * [[phraseSlotOrder]]'s order; `acc` ends as the phrase-start set. */
  private def phraseFold(spark: SparkSession, storeDir: String,
                         post: DataFrame, phrase: Seq[String]): DataFrame = {
    val order = phraseSlotOrder(spark, storeDir, phrase)
    val (w0, i0) = order.head
    val first = post.filter(col("w") === w0)
      .select(col("doc_id"),
        transform(col("pos"), p => p - i0).as("acc"))
    order.drop(1).foldLeft(first) { case (acc, (w, i)) =>
      acc.join(post.filter(col("w") === w)
          .select(col("doc_id"),
            transform(col("pos"), p => p - i).as("shifted")),
          Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(col("acc"), col("shifted")).as("acc"))
        .filter(size(col("acc")) > 0)
    }
  }

  /** Drop WHOLE queries any of whose slot terms is provably absent,
    * engine-side: the OR'd store bitset rides the slot frame
    * `(query_id, …, w)` as ONE literal array, so a dead query is gone
    * before any bucket union is collected — zero matches by Bloom
    * semantics, zero buckets opened for it. Shared by every batched
    * serve ([[phraseSearchBatch]]/[[nearSearchBatch]]/[[kwicBatch]]);
    * a store predating the filter passes everything through (cannot
    * prove absence — degrade to filter-off, never a wrong skip). */
  private def dropBloomDeadQueries(spark: SparkSession, storeDir: String,
                                   slots: DataFrame): DataFrame = {
    val m = markBloomDead(spark, storeDir, slots)
    val dead = m.filter(col("_dead")).select(col("query_id")).distinct()
    m.drop("_dead").join(dead, Seq("query_id"), "left_anti")
  }

  /** The observed metrics row of an already-executed action, BOUNDED:
    * the row arrives via the async listener bus (normally well under
    * a second behind the action), so wait two and return empty on a
    * miss — the callers all fall back to the explicit job, never an
    * indefinite block on a swallowed metrics node, and count the
    * fallback under [[ObserveMiss]] so a late listener bus shows. */
  private def awaitObserved(obs: Observation): Map[String, Any] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(2, "s"))
      row.schema.fieldNames.zip(row.toSeq).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Materialize a batched serve's query frame (localCheckpoint) and
    * return whether it is EMPTY, observed during the checkpoint's own
    * job ([[checkpointWithBuckets]]'s idiom) instead of a separate
    * `limit(1).count()` — one fixed-cost job per batched pruned serve
    * removed. */
  private def checkpointWithNonEmpty(frame: DataFrame)
      : (DataFrame, Boolean) = {
    val obs = Observation()
    val cp = frame.observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = awaitObserved(obs).get("n") match {
      case Some(l: java.lang.Long) => l.longValue
      case _ => addPhase(ObserveMiss, 1); cp.limit(1).count()
    }
    (cp, n > 0L)
  }

  /** Materialize a batched serve's slot frame (localCheckpoint) and
    * return it with its distinct probed buckets — collected DURING
    * the checkpoint's own job via an Observation (`collect_set(tb)`)
    * instead of the separate fixed-cost job every batched serve used
    * to run over the checkpointed rows. The observed aggregate rides
    * the exact plan the checkpoint executes, so the set cannot differ
    * from the replaced `distinct().collect()`; when the metrics row
    * is unavailable (AQE empty-relation propagation can swallow the
    * CollectMetrics node on an all-dead batch — the [[observed]]
    * escape hatch — or the listener bus lags past the wait budget)
    * the helper falls back to that very job: never a different
    * answer, at worst the old cost. Buckets return SORTED — the old
    * job's collect order was partition-arbitrary and every caller
    * only `isin`s them, so order never reaches an answer. */
  private[graft] def checkpointWithBuckets(frame: DataFrame)
      : (DataFrame, Seq[Int]) = {
    val obs = Observation()
    val cp = frame.observe(obs, collect_set(col("tb")).as("tbs"))
      .localCheckpoint()
    val buckets = awaitObserved(obs).get("tbs") match {
      case Some(s: Seq[_]) =>
        s.map(_.asInstanceOf[Number].intValue).toSeq
      case Some(a: Array[_]) =>
        a.toSeq.map(_.asInstanceOf[Number].intValue)
      case _ =>
        addPhase(ObserveMiss, 1)
        cp.select(col("tb")).distinct().collect().map(_.getInt(0)).toSeq
    }
    (cp, buckets.distinct.sorted)
  }

  /** Whether a row's `w` may be in the store whose OR'd term bitset
    * rides the row as the `_tfb` literal: every one of the writer's
    * [[termProbes]] bits is set (Bloom semantics — a false positive
    * only reads a bucket for nothing, never moves a score). */
  private def bloomMayContain: org.apache.spark.sql.Column = expr(
    s"""forall(array(${(0 until TermFilterK)
      // int literal $i matches termProbes' lit(i) — xxhash64 hashes
      // depend on the argument TYPE, not just the value
      .map(i => s"pmod(xxhash64(w, $i), ${TermFilterBits}L)")
      .mkString(", ")}),
       |  p -> (element_at(_tfb, cast(p / 64 AS int) + 1)
       |        & shiftleft(1L, cast(p % 64 AS int))) != 0L)""".stripMargin)

  /** Tag each slot row with `_dead` = its term is PROVABLY absent from
    * the store (Bloom semantics over the OR'd term bitset, engine-
    * evaluated with the writer's own hash expressions; all-false on a
    * store predating the filter — cannot prove absence). The per-slot
    * form exists because absence semantics are ROLE-dependent:
    * conjunctive serves drop the whole query ([[dropBloomDeadQueries]])
    * while SpanNot's exclusion term drops only its own slot — an
    * absent `b` makes every `a` occurrence clear, not the query dead
    * ([[notNearSearchBatch]]). */
  private def markBloomDead(spark: SparkSession, storeDir: String,
                            slots: DataFrame): DataFrame =
    readTermFilter(spark, storeDir) match {
      case None => slots.withColumn("_dead", lit(false))
      case Some(bits) =>
        slots.withColumn("_tfb", typedLit(bits.toSeq))
          .withColumn("_dead", !bloomMayContain)
          .drop("_tfb")
    }

  /** BATCHED store-served phrase search — exact adjacency for a whole
    * query FRAME `(idCol, phraseCol: array<string>)` against the
    * positional store, [[topKBatch]]'s one-job shape for
    * [[phraseSearch]]: per query the answer is bit-identical to the
    * per-phrase loop, but every probed bucket is read ONCE for all the
    * queries probing it.
    *
    * Plan shape: phrases posexplode to (query, slot, term) map-side
    * and hash to buckets with the writer's frozen expressions; any
    * query with a provably-absent term (the OR'd store bitset rides
    * the frame as one literal) drops WHOLE before the bucket union is
    * collected — zero matches by Bloom semantics, zero buckets opened
    * for it. The store scan partition-prunes to the union of surviving
    * buckets; postings join the localCheckpointed slot frame on `w`
    * with no forced hint (the q218 direction discipline). Adjacency is
    * the same shifted-position algebra as the single-phrase serve —
    * slot i's positions shift by -i — evaluated per (query, doc) as a
    * fold over the collected slot arrays; a doc must cover EVERY slot
    * (count == phrase length) before the intersect runs, so partial
    * matches never reach the fold. Returns
    * (query_id, doc_id, n_occurrences), matching docs only. */
  def phraseSearchBatch(spark: SparkSession, storeDir: String,
                        queries: DataFrame, idCol: String,
                        phraseCol: String): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(phraseCol).as("phrase"))
    // size(NULL) is NULL, not < 2 — a null phrase must refuse loudly
    // like every other degenerate shape, not posexplode to nothing and
    // silently vanish from the output
    require(q.filter(col("phrase").isNull || size(col("phrase")) < 2)
        .limit(1).count() == 0L,
      "a 1-token phrase is a plain term lookup — every phrase needs " +
        "at least two tokens (and none may be NULL)")
    val (_, _, nb) = readStats(spark, storeDir)
    val slots = q.select(col("query_id"), size(col("phrase")).as("plen"),
      posexplode(col("phrase")).as(Seq("i", "w")))
    val (qslots, buckets) = checkpointWithBuckets(
      dropBloomDeadQueries(spark, storeDir, slots)
      .withColumn("tb",
        pmod(xxhash64(col("w")), lit(nb)).cast("int")))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn("n_occurrences", lit(0L))
        .select(col("query_id"), col("doc_id"), col("n_occurrences"))
    val terms = qslots.select(col("w")).distinct()
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w"), col("pos")))
    post.join(qslots.select(col("query_id"), col("plen"), col("i"),
        col("w")), Seq("w"))
      .select(col("query_id"), col("doc_id"), col("plen"), col("i"),
        transform(col("pos"), p => p - col("i")).as("shifted"))
      .groupBy(col("query_id"), col("doc_id"), col("plen"))
      // DISTINCT covered slots, not matched posting rows: a doc_id
      // re-ingested after churn can carry duplicate (doc_id, w) rows,
      // and row counting would let a doc covering only a SUBSET of
      // the slots pass the gate (the intersect over the present
      // arrays could then false-match) — the containingAllBatch
      // set-semantics rule, applied to the slot index
      .agg(countDistinct(col("i")).as("nslots"),
        collect_list(col("shifted")).as("arrs"))
      .filter(col("nslots") === col("plen"))
      .withColumn("acc", expr(
        "aggregate(slice(arrs, 2, size(arrs) - 1), arrs[0], " +
          "(acc, x) -> array_intersect(acc, x))"))
      .filter(size(col("acc")) > 0)
      .select(col("query_id"), col("doc_id"),
        size(col("acc")).cast("long").as("n_occurrences"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** BATCHED store-served BM25 — top-k per query for a whole query
    * FRAME `(idCol, termsCol: array<string>)` against the postings
    * store, the text analog of
    * [[graft.operators.Similarity.knnJoinIvfStore]]: one job serves
    * every query, instead of a driver round-trip per term set.
    *
    * Plan shape: per-query distinct terms explode and hash to their
    * buckets map-side (the writer's own frozen expressions), the
    * store scan partition-prunes to the UNION of probed buckets (a
    * bucket-count-bounded driver collect), and each probed bucket is
    * read ONCE for all the queries probing it — the postings join the
    * localCheckpointed (query, term) frame on `w` with NO forced
    * hint, so AQE broadcasts a bounded query set and shuffle-joins a
    * corpus-sized sweep (the q218 direction discipline; hot terms are
    * skewed keys, AQE's skew split re-balances them). Per-(doc, term)
    * contributions are computed once and REUSED by every query
    * sharing the term; ranking runs through the bounded
    * [[graft.functions.TopK]] aggregator, so no per-query candidate
    * list materializes unbounded. Per query, rows are bit-identical
    * to [[topK]] with the same term set (same rounding, DECIMAL
    * accumulation, and (score desc, doc_id) tiebreak).
    *
    * The term-presence filter prunes engine-side: the OR'd store
    * bitset rides the frame as one literal array, so provably-absent
    * terms drop BEFORE the bucket union is collected — a batch of
    * out-of-domain queries probes nothing. */
  def topKBatch(spark: SparkSession, storeDir: String, queries: DataFrame,
                idCol: String, termsCol: String, k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankBatch(spark, storeDir, queries, idCol, termsCol, k, Bm25(k1, b))

  /** [[topKBatch]] / [[lmTopKBatch]]: one store, a query frame. */
  private def rankBatch(spark: SparkSession, storeDir: String,
                        queries: DataFrame, idCol: String,
                        termsCol: String, k: Int, sc: Scorer): DataFrame = {
    val (n, sdl, nb) = readStats(spark, storeDir)
    val exploded = queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
    // drop provably-absent (query, term) pairs engine-side: an absent
    // term contributes no posting and no score in the single serve
    // either
    val livePairs = dropAbsentTermRows(spark, storeDir, exploded)
    // union of probed buckets: ≤ nBuckets ints, driver-held by design
    // — collected during the checkpoint job itself
    val (qt, buckets) = checkpointWithBuckets(livePairs
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .repartition(spark.sessionState.conf.numShufflePartitions))
    if (buckets.isEmpty)
      return emptyTopKBatch(spark)
    val wanted = qt.select(col("w")).distinct()
    val tf = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(wanted, Seq("w")))
    // the exact corpus statistic from the read postings — shared by
    // every query carrying the term
    val statT = tf.groupBy(col("w")).agg(sc.statAgg.as(sc.stat))
    val contrib = sc.score(broadcast(statT), n, sdl)(tf)
      .select(col("w"), col("doc_id"), col("c"))
    val scored = contrib
      .join(qt.select(col("query_id"), col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
    // bounded per-query top-k (map-side partials, k tuples per task);
    // n_terms rides THROUGH the aggregator as the tag, so no winners
    // back-join re-shuffles (and re-scans) the scored subtree
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** SELECTIVE compaction: rewrite only the term buckets whose file
    * count exceeds `maxFilesPerBucket` — append decay is term-skewed
    * (a batch's heavy terms land more files in their buckets), so at
    * scale healing the decayed buckets must not rewrite the rest of
    * the postings. Delegates to the generic partitioned-store pass
    * ([[graft.sinks.SkippingStore.compactPartitionsSelective]]):
    * decayed buckets re-cluster by (tb, w, doc_id) into
    * ~`filesPerBucket` files each, untouched buckets keep their
    * paths and mtimes, the w-zone sidecar is reconciled (replaced
    * files' rows dropped, fresh rows over only the new files), and
    * `_corpus_stats` is untouched — compaction moves postings, never
    * changes N/Σdl/the bucket hash. Serves are bit-identical across
    * it. Returns (rewritten bucket dirs, filesBefore, filesAfter). */
  def compactSelective(spark: SparkSession, storeDir: String,
                       maxFilesPerBucket: Int,
                       filesPerBucket: Int = 1): (Seq[String], Int, Int) =
    graft.sinks.SkippingStore.compactPartitionsSelective(
      spark, storeDir, "tb", maxFilesPerBucket, filesPerBucket,
      extraSortCols = Seq("doc_id"))

  // ------------------------------------------------------------------
  // ONE RANKING CORE. BM25 and Dirichlet LM share every plan — term
  // filter, bucket prune, tombstone anti-join, scatter-gather, block-max
  // caps/floors/θ/survivors — and differ in three things, which a
  // [[Scorer]] supplies: the per-term global statistic, the per-posting
  // contribution `c`, and whether the cap algebra is sound for the
  // parameters. Each cell of single/batch × pruned/unpruned ×
  // local/sharded is one private `rank*` core taking a Scorer; the
  // public verbs are one-line calls into them.

  private sealed trait Scorer {
    /** The per-term global statistic's column: `df` or `ctf`. */
    def stat: String
    /** Its aggregate over a term's read postings. */
    def statAgg: org.apache.spark.sql.Column
    /** The `_blockmax` column whose sum over a term's files is `stat`. */
    def sidecarCol: String
    def sidecarStat(r: BlockRow): Long
    /** The tombstoned postings' share of `stat`, from
      * [[tombstoneTermAdjust]]'s (df, ctf) pair. */
    def tombstoneStat(t: (Long, Long)): Long
    /** The statistic a single pruned serve scores with, given the
      * sidecar sum net of tombstones. */
    def prunedStat(v: Long): Long = v
    /** Whether caps at (maxtf, mindl) bound every posting of a file;
      * pruned serves delegate to the unpruned ones when not. */
    def monotone: Boolean
    /** The public verb name of a matrix cell (`lastServeRoute`). */
    def route(cell: String): String
    /** Adds the DECIMAL(28,6) contribution `c` to postings
      * `(w, tf, dl, stat)` of a corpus of `n` docs and `sdl` tokens. */
    def contribution(post: DataFrame, n: Long, sdl: Long): DataFrame
    /** `post` joined to the per-term statistic frame and scored. */
    def score(stats: DataFrame, n: Long, sdl: Long)(
        post: DataFrame): DataFrame =
      contribution(post.join(stats, Seq("w")), n, sdl)
  }

  /** Okapi BM25 — [[Curation.bm25TopK]]'s math verbatim. */
  private final case class Bm25(k1: Double, b: Double) extends Scorer {
    def stat = "df"
    def statAgg = count(lit(1))
    def sidecarCol = "cnt"
    def sidecarStat(r: BlockRow) = r.cnt
    def tombstoneStat(t: (Long, Long)) = t._1
    def monotone = k1 > 0 && b >= 0 && b <= 1
    def route(cell: String) = cell
    def contribution(post: DataFrame, n: Long, sdl: Long): DataFrame = {
      val avgdl = round(lit(sdl).cast("double") / lit(n), 6)
      post.withColumn("idf", round(
          log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)),
          6))
        .withColumn("c", round(
          col("idf") * (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) *
              (lit(1.0 - b) + lit(b) * col("dl") / avgdl)),
          6).cast("decimal(28,6)"))
    }
  }

  /** Dirichlet query likelihood ([[lmTopK]]). Always monotone: the
    * contribution rises with tf and falls with dl. */
  private final case class Lm(mu: Double) extends Scorer {
    require(mu > 0, "the Dirichlet pseudo-count must be positive")
    def stat = "ctf"
    def statAgg = sum(col("tf"))
    def sidecarCol = "sumtf"
    def sidecarStat(r: BlockRow) = r.sumtf
    def tombstoneStat(t: (Long, Long)) = t._2
    // clamp to 1 for a term whose EVERY posting is tombstoned: no live
    // row ever scores with it (the anti-join removes them all), but
    // the cap tree still evaluates at (maxtf, mindl) and ctf = 0 would
    // divide by zero there — a smaller ctf only RAISES the cap, so the
    // clamp stays an upper bound for the (empty) live posting set
    override def prunedStat(v: Long) = math.max(1L, v)
    def monotone = true
    def route(cell: String) = "lm" + cell.capitalize
    // round each log term to 6 decimals (never the tiny collection
    // probability itself — a rare term's ctf/|C| would round to zero
    // and blow the division); the sum of two 6-dec values is exact in
    // DECIMAL, so the oracle reproduces every score bit-for-bit
    def contribution(post: DataFrame, n: Long, sdl: Long): DataFrame =
      post.withColumn("tfc", round(
          log(lit(1.0) + col("tf").cast("double") * lit(sdl).cast("double") /
            (lit(mu) * col("ctf").cast("double"))), 6)
          .cast("decimal(28,6)"))
        .withColumn("bg", round(
          log(lit(mu) / (col("dl").cast("double") + lit(mu))), 6)
          .cast("decimal(28,6)"))
        .withColumn("c", col("tfc") + col("bg"))
  }

  /** Store-served BM25 top-k for a driver-held term set — bit-stable
    * with `Curation.bm25TopK(corpus, …)` over the store's documents.
    * Reads only the query terms' buckets (partition pruning; the
    * bucket keys come from the engine evaluating the writer's own
    * hash over the terms-sized frame, never a driver
    * reimplementation), then only the w-zone-surviving files inside
    * them. The only broadcast is the terms-sized `df` table (q133's
    * documented model-state family); the sidecar's corpus stats are
    * driver-held longs, so `n`/`avgdl` inline as literals through the
    * SAME round/divide expressions the scan path evaluates — constant
    * folding runs the identical Catalyst math once at plan time. */
  def topK(spark: SparkSession, storeDir: String, terms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rank(spark, storeDir, terms, k, Bm25(k1, b))

  /** [[topK]] / [[lmTopK]]: one store, one driver-held term set. */
  private def rank(spark: SparkSession, storeDir: String,
                   terms: Seq[String], k: Int, sc: Scorer): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // either store layout serves ranking since the stats unification —
    // positional postings carry the bag contract's exact (w, tf, dl)
    // ([[tokenizedPositional]]); the pos column is pruned at the scan
    val (n, sdl, nb) = readStats(spark, storeDir)
    // the term-presence filter drops provably-absent terms BEFORE any
    // bucket opens: an absent term contributes no posting and no score,
    // so dropping it is free correctness-wise and saves its bucket's
    // whole read. All terms absent → the exact empty answer, zero
    // data files opened.
    val live = readTermFilter(spark, storeDir)
      .fold(terms)(bits => presentTerms(spark, terms, bits))
    if (live.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_terms", lit(0L)).withColumn("score", lit(0.0))
    val buckets = bucketsOf(live, nb)
    // tombstoned docs drop BEFORE the statistic: every scoring input
    // is exactly what a rebuild on the surviving corpus would produce
    val tf = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(live: _*)))
    // a term's postings live entirely inside its bucket, so the
    // statistic over the READ postings is the exact corpus one
    val statT = tf.groupBy(col("w")).agg(sc.statAgg.as(sc.stat))
    sc.score(broadcast(statT), n, sdl)(tf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // VOCABULARY sidecar + multi-term expansion (wildcard / fuzzy /
  // regexp term queries — the Lucene PrefixQuery / FuzzyQuery /
  // RegexpQuery family, re-expressed against the postings store).
  // Expansion needs the store's term STRINGS, which live only inside
  // the postings themselves: without a sidecar every `pre*` expansion
  // would be a full-store distinct scan — the 100 TB anti-pattern this
  // store exists to kill. The OPT-IN `_vocab` sidecar holds per-batch
  // `(bid, w, df)` rows (df = this batch's docs containing w — exact
  // when summed across batches because a live doc_id is ingested at
  // most once, and compaction rebuilds before a purged id can
  // reappear), is extended FROM THE BATCH ONLY by every append once
  // it exists, folds on the shared file threshold through its own
  // read-side aggregate (per-term sum, bid = max so the replay guard
  // keeps answering for swallowed batches — [[maybeFoldStats]]'s
  // discipline), and is rebuilt exactly by [[compact]] from the
  // rewritten postings. [[delete]] leaves it STALE-HIGH by design (df
  // keeps counting tombstoned docs until the next compaction):
  // expansion uses the vocab only to CHOOSE candidate terms, and
  // every serve re-reads live postings minus tombstones, so ranked
  // answers stay exact — the only drift a stale vocab can cause is
  // candidate ORDER inside the delete-to-compaction window, the same
  // staleness contract the df sketch already carries.

  private def vocabPath(dir: String) = s"$dir/_vocab"

  /** Applied-batch high-water mark over the stats sidecar — the bid
    * a vocab REBUILD must carry so [[healBatch]]'s replay guard keeps
    * answering "already applied" for every batch the rebuild folded
    * in. */
  private def statsBidHwm(spark: SparkSession, dir: String): Long =
    statsSnapshot(spark, dir).maxBid

  /** Create (or exactly rebuild) the `_vocab` sidecar from the LIVE
    * postings: one column-pruned pass over `(doc_id, w)` minus
    * tombstones — postings are one row per (doc_id, w), so a per-term
    * row count IS the exact document frequency of the surviving
    * corpus. Lands scaffold-then-swap (the shared sidecar crash
    * discipline: readers heal a parked aside, a half-written rebuild
    * is never visible). From then on every [[append]] /
    * [[appendPositional]] extends it from the batch alone. */
  def buildVocab(spark: SparkSession, storeDir: String): Unit = {
    val hwm = statsBidHwm(spark, storeDir)
    val v = minusTombstones(spark, storeDir,
        readKnownMerged(spark, storeDir).select(col("doc_id"), col("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .select(lit(hwm).as("bid"),
        col("w"), col("df"), reverse(col("w")).as("rw"))
    val stamp = System.nanoTime()
    val side = vocabPath(storeDir)
    graft.sinks.SidecarFold.restoreAside(spark, side)
    timed("vocab_build") {
      // sorted by the REVERSED term: parquet min/max stats then give
      // leading-wildcard expansion (`*fix` → rw prefix 'xif') the
      // same rowgroup-range cheapness a plain prefix enjoys on w —
      // Lucene's ReverseWildcard trick as a sort order, not a second
      // index
      v.coalesce(1).sortWithinPartitions(col("rw"))
        .write.mode("overwrite").parquet(s"$side.fold-$stamp")
      memoVocabHwm(spark, storeDir, s"$side.fold-$stamp", hwm)
      graft.sinks.HadoopSwap.swapInto(spark, s"$side.fold-$stamp", side,
        s"$side.old-$stamp")
    }
  }

  /** Applied-batch high-water mark of the `_vocab` sidecar, memoized
    * per sidecar STATE (the [[statsSnapshotMemo]] idiom): the replay
    * guard ran a filter+limit job per append/heal on vocab stores,
    * and [[compact]] its own max(bid) job — one listing-validated
    * read now answers both until the sidecar changes. `any bid ≥
    * wanted` ⇔ `max bid ≥ wanted`, the [[statsRowExists]] argument. */
  private val vocabHwmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def vocabBidHwm(spark: SparkSession, dir: String): Long = {
    val sig = dirListingSig(spark, vocabPath(dir))
    val hit = vocabHwmMemo.get(dir)
    if (hit != null && hit._1 == sig) return hit._2
    val vh = graft.sinks.SidecarFold.withReadRetry() {
      readKnown(spark, vocabPath(dir)).agg(max(col("bid"))).head()
    }
    val hwm = if (vh.isNullAt(0)) -1L else vh.getLong(0)
    if (vocabHwmMemo.size > 64) vocabHwmMemo.clear()
    vocabHwmMemo.put(dir, (sig, hwm))
    hwm
  }

  /** Memo `hwm` for store `dir` under the listing of `written`, the
    * scaffold about to be renamed into place as its `_vocab`: a rename
    * keeps each file's name, length and mtime, so the first read after
    * the swap hits, and a swap that never happens leaves a memo no
    * listing matches. */
  private def memoVocabHwm(spark: SparkSession, dir: String,
                           written: String, hwm: Long): Unit = {
    if (vocabHwmMemo.size > 64) vocabHwmMemo.clear()
    vocabHwmMemo.put(dir, (dirListingSig(spark, written), hwm))
  }

  private def vocabRowExists(spark: SparkSession, dir: String,
                             bid: Long): Boolean =
    vocabBidHwm(spark, dir) >= bid

  /** Batch-only vocab extension — a no-op on stores that never opted
    * in ([[buildVocab]] creates the sidecar). `post` holds the batch's
    * postings — the files its ingest just wrote, or [[healBatch]]'s
    * re-derived frame — and a (doc_id, w) row lives in exactly one of
    * them, in either layout, so a per-term row count is the batch's
    * exact df with no re-tokenize. One aggregate, one appended file,
    * fold on the shared threshold: the appended cost stays the batch's,
    * never the store's.
    * When the sidecar grew by exactly that file and [[vocabHwmMemo]]
    * held its pre-write state, the memo absorbs `bid` and the next
    * high-water-mark read runs no job. */
  private def maybeExtendVocab(spark: SparkSession, dir: String, bid: Long,
                               post: DataFrame): Unit = {
    import graft.sinks.SidecarFold
    val side = vocabPath(dir)
    SidecarFold.restoreAside(spark, side)
    if (!graft.sinks.HadoopSwap.exists(spark, side)) return
    val before = SidecarFold.listing(spark, side)
    timed("vocab_extend") {
      post.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .select(lit(bid).as("bid"), col("w"), col("df"),
          reverse(col("w")).as("rw"))
        .coalesce(1).sortWithinPartitions(col("rw"))
        .write.mode("append").parquet(side)
    }
    SidecarFold.foldIfDecayed(spark, side, SidecarFoldThreshold,
      mergeSchema = true)(
      _.groupBy(col("w")).agg(max(col("bid")).as("bid"),
          sum(col("df")).as("df"))
        .select(col("bid"), col("w"), col("df"),
          reverse(col("w")).as("rw"))
        .sortWithinPartitions(col("rw")))
    val hit = vocabHwmMemo.get(dir)
    val after = SidecarFold.listing(spark, side)
    if (hit != null && hit._1 == sigOf(before) &&
        after.exists(SidecarFold.grewBy(before.getOrElse(Nil), _, 1)))
      vocabHwmMemo.put(dir, (sigOf(after), math.max(hit._2, bid)))
  }

  /** The store's term dictionary `(w, df)` — vocab-sized, never
    * corpus-sized. df is exact on a store with no pending tombstones
    * (fresh build, post-compaction) and stale-high inside a
    * delete-to-compaction window (see the section note). The empty
    * string is EXCLUDED: postings deliberately carry `""` rows (the
    * bag-stats contract for docs with leading/trailing/double
    * whitespace), but it is a tokenizer stats artifact, not a term —
    * Lucene never surfaces it, and without the filter a fuzzy length
    * band reaching 0 (or a regexp matching "") would burn a maxTerms
    * slot scoring whitespace postings. */
  def vocabulary(spark: SparkSession, storeDir: String): DataFrame =
    graft.sinks.SidecarFold.withReadRetry() {
      graft.sinks.SidecarFold.restoreAside(spark, vocabPath(storeDir))
      require(graft.sinks.HadoopSwap.exists(spark, vocabPath(storeDir)),
        s"$storeDir has no _vocab sidecar — buildVocab() creates it " +
          "(appends maintain it from then on)")
      readKnown(spark, vocabPath(storeDir))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(sum(col("df")).cast("long").as("df"))
    }

  /** Expand a term prefix against the vocabulary: highest-df terms
    * first (Lucene's top-terms blending rule), ties broken by the
    * term itself so the expansion is deterministic. The collect is
    * maxTerms-bounded by construction (TakeOrderedAndProject). */
  def expandPrefix(spark: SparkSession, storeDir: String, prefix: String,
                   maxTerms: Int = 64): Seq[String] = {
    require(prefix != null && prefix.nonEmpty,
      "an empty prefix would expand the whole vocabulary")
    require(maxTerms >= 1, "need at least one expansion slot")
    vocabulary(spark, storeDir)
      .filter(col("w").startsWith(lit(prefix)))
      .orderBy(col("df").desc, col("w"))
      .limit(maxTerms)
      .select(col("w")).collect().map(_.getString(0)).toSeq
  }

  /** Expand a term within `maxDist` Levenshtein edits: nearest first,
    * then highest df, then the term (deterministic). The length band
    * prunes the vocab scan before any distance is computed — plain
    * `levenshtein` (not the thresholded form) keeps the value
    * oracle-replayable. */
  def expandFuzzy(spark: SparkSession, storeDir: String, term: String,
                  maxDist: Int = 1, maxTerms: Int = 16): Seq[String] = {
    require(term != null && term.nonEmpty, "need a non-empty term")
    require(maxDist >= 0 && maxTerms >= 1,
      "need a non-negative distance and at least one expansion slot")
    vocabulary(spark, storeDir)
      .filter(length(col("w"))
        .between(term.length - maxDist, term.length + maxDist))
      .withColumn("d", levenshtein(col("w"), lit(term)))
      .filter(col("d") <= maxDist)
      .orderBy(col("d"), col("df").desc, col("w"))
      .limit(maxTerms)
      .select(col("w")).collect().map(_.getString(0)).toSeq
  }

  /** Expand a term SUFFIX (the leading-wildcard `*fix` case) against
    * the vocabulary — Lucene's ReverseWildcard parity: vocab files
    * carry a reversed-term column and are SORTED by it, so the
    * suffix filter is a PREFIX range on `rw` that parquet min/max
    * stats can skip on (a leading wildcard costs what a trailing one
    * does, instead of [[expandRegexp]]'s full vocab scan). Stores
    * whose vocab predates the column degrade to computing the
    * reverse on the fly — same answer, scan-shaped. Highest-df
    * first, like [[expandPrefix]]. */
  def expandSuffix(spark: SparkSession, storeDir: String, suffix: String,
                   maxTerms: Int = 64): Seq[String] =
    graft.sinks.SidecarFold.withReadRetry() {
      require(suffix != null && suffix.nonEmpty,
        "an empty suffix would expand the whole vocabulary")
      require(maxTerms >= 1, "need at least one expansion slot")
      graft.sinks.SidecarFold.restoreAside(spark, vocabPath(storeDir))
      require(graft.sinks.HadoopSwap.exists(spark, vocabPath(storeDir)),
        s"$storeDir has no _vocab sidecar — buildVocab() creates it")
      val raw = readKnownMerged(spark, vocabPath(storeDir))
      val withRw =
        if (!raw.columns.contains("rw"))
          raw.withColumn("rw", reverse(col("w")))
        else raw.withColumn("rw",
          coalesce(col("rw"), reverse(col("w"))))
      withRw
        .filter(col("rw").startsWith(lit(suffix.reverse)))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(sum(col("df")).cast("long").as("df"))
        .orderBy(col("df").desc, col("w"))
        .limit(maxTerms)
        .select(col("w")).collect().map(_.getString(0)).toSeq
    }

  /** Suffix-expanded BM25 (`*fix` queries): [[expandSuffix]] through
    * the [[serve]] front door (expanded terms are just terms, so an
    * opted-in store gets the block-max pruned path for free) —
    * [[wildcardTopK]]'s leading-wildcard sibling. */
  def suffixTopK(spark: SparkSession, storeDir: String, suffix: String,
                 k: Int, maxTerms: Int = 64, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val terms = expandSuffix(spark, storeDir, suffix, maxTerms)
    if (terms.isEmpty) emptyTopK(spark, storeDir)
    else serve(spark, Seq(storeDir), terms, k, "bm25", k1, b)
  }

  /** Expand terms matching a regexp (Java `rlike` find semantics —
    * anchor explicitly). Highest-df first, like [[expandPrefix]]. */
  def expandRegexp(spark: SparkSession, storeDir: String, pattern: String,
                   maxTerms: Int = 64): Seq[String] = {
    require(pattern != null && pattern.nonEmpty, "need a pattern")
    require(maxTerms >= 1, "need at least one expansion slot")
    vocabulary(spark, storeDir)
      .filter(col("w").rlike(pattern))
      .orderBy(col("df").desc, col("w"))
      .limit(maxTerms)
      .select(col("w")).collect().map(_.getString(0)).toSeq
  }

  private def emptyTopK(spark: SparkSession, storeDir: String): DataFrame =
    readKnown(spark, storeDir).select(col("doc_id")).limit(0)
      .withColumn("n_terms", lit(0L)).withColumn("score", lit(0.0))

  /** The empty batched answer `(query_id, doc_id, n_terms, score)`. */
  private def emptyTopKBatch(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("query_id"), col("id").as("doc_id"),
      col("id").as("n_terms"), col("id").cast("double").as("score"))

  /** Prefix-expanded BM25: expand against the vocab sidecar, score
    * the expanded terms through the [[serve]] front door (summed
    * per-term contributions — multi-term OR semantics; an opted-in
    * store prunes). Zero matching terms → the exact empty answer,
    * zero data files opened. */
  def wildcardTopK(spark: SparkSession, storeDir: String, prefix: String,
                   k: Int, maxTerms: Int = 64, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame = {
    val ts = expandPrefix(spark, storeDir, prefix, maxTerms)
    if (ts.isEmpty) emptyTopK(spark, storeDir)
    else serve(spark, Seq(storeDir), ts, k, "bm25", k1, b)
  }

  /** Fuzzy-expanded BM25 — [[expandFuzzy]] then the [[serve]] door. */
  def fuzzyTopK(spark: SparkSession, storeDir: String, term: String,
                maxDist: Int, k: Int, maxTerms: Int = 16,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = expandFuzzy(spark, storeDir, term, maxDist, maxTerms)
    if (ts.isEmpty) emptyTopK(spark, storeDir)
    else serve(spark, Seq(storeDir), ts, k, "bm25", k1, b)
  }

  /** Regexp-expanded BM25 — [[expandRegexp]] then the [[serve]]
    * door. */
  def regexpTopK(spark: SparkSession, storeDir: String, pattern: String,
                 k: Int, maxTerms: Int = 64, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val ts = expandRegexp(spark, storeDir, pattern, maxTerms)
    if (ts.isEmpty) emptyTopK(spark, storeDir)
    else serve(spark, Seq(storeDir), ts, k, "bm25", k1, b)
  }

  /** BATCHED wildcard BM25 — a whole `(idCol, prefixCol)` query frame
    * in the [[topKBatch]] job count: the expansion is ONE vocab-sized
    * join (queries broadcast against the `(w, df)` dictionary), each
    * query keeps its own top-`maxTerms` terms by (df desc, w) through
    * a query-partitioned rank, and the expanded frame delegates to
    * [[topKBatch]] (per-query rows bit-identical to the
    * [[wildcardTopK]] loop). A query matching no term drops whole —
    * the batched family's dead-query convention. */
  def wildcardTopKBatch(spark: SparkSession, storeDir: String,
                        queries: DataFrame, idCol: String,
                        prefixCol: String, k: Int, maxTerms: Int = 64,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(maxTerms >= 1, "need at least one expansion slot")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(prefixCol).as("prefix"))
    // degenerate rows refuse loudly, matching the single-query API —
    // an empty prefix would silently expand the whole vocabulary
    require(q.filter(col("prefix").isNull ||
        length(col("prefix")) === 0).limit(1).count() == 0L,
      "every wildcard query needs a non-empty prefix")
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("df").desc, col("w"))
    val expanded = vocabulary(spark, storeDir)
      .join(broadcast(q), col("w").startsWith(col("prefix")))
      .withColumn("_r", row_number().over(wExp))
      .filter(col("_r") <= maxTerms)
      .groupBy(col("query_id"))
      .agg(collect_list(col("w")).as("terms"))
    // through the front door: an opted-in store serves the expanded
    // frame block-max pruned, bit-identically
    serveBatch(spark, Seq(storeDir), expanded, "query_id", "terms", k,
      "bm25", k1, b)
  }

  /** MULTI-FIELD BM25F ranking (Robertson et al.'s simple BM25F —
    * the Lucene field axis): each field is its OWN standard postings
    * store (full lifecycle: append/delete/compact/sidecars, all
    * unchanged), and the serve combines them with per-field boosts
    * and length normalization BEFORE tf saturation:
    *
    *   wtf(t,d) = Σ_f boost_f · tf(t,f,d) / (1 − b_f + b_f·dl_f/avgdl_f)
    *   score(d) = Σ_t idf(t) · wtf / (k1 + wtf)
    *
    * (idf from the ANY-field document frequency — a term's saturation
    * is shared across fields, which is exactly what per-field BM25
    * summing gets wrong). Every per-store read keeps the single-store
    * prunes: term-filter drops, bucket partition pruning, w-zones,
    * tombstone anti-joins — so a 100 TB two-field deployment reads
    * the terms' buckets of each field store and nothing else. Rounding
    * discipline matches [[topK]]: per-(field,term,doc) wtf parts
    * round to 6 and sum as DECIMAL(28,6) (field-order-insensitive),
    * the per-term contribution rounds to 6 and sums as DECIMAL(28,6)
    * (term-order-insensitive), the final score casts to DOUBLE.
    *
    * `fields`: (field, storeDir, boost, b_f) per field — a Seq so the
    * serve is deterministic. All stores must hold the SAME document
    * set (n is required equal; fields of one corpus by construction).
    * Returns (doc_id, n_terms, score) top-k. */
  def bm25fTopK(spark: SparkSession,
                fields: Seq[(String, String, Double, Double)],
                terms: Seq[String], k: Int,
                k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    require(terms.nonEmpty, "need at least one query term")
    import spark.implicits._
    val distinct = terms.distinct
    val stats = fields.map { case (f, dir, _, _) =>
      f -> readStats(spark, dir)
    }
    val ns = stats.map(_._2._1).distinct
    require(ns.size == 1,
      s"field stores must hold the same corpus (n per field: " +
        s"${stats.map { case (f, (n, _, _)) => s"$f=$n" }.mkString(", ")})")
    val n = ns.head
    // per-field probed postings with the field's own normalization
    // folded in — each read is the single-store serve's pruned shape
    val parts = fields.zip(stats).flatMap {
      case ((_, dir, boost, bf), (_, (_, sdlF, nbF))) =>
        val live = readTermFilter(spark, dir)
          .fold(distinct)(bits => presentTerms(spark, distinct, bits))
        if (live.isEmpty) None
        else {
          val buckets = bucketsOf(live, nbF)
          val avgdlF = round(lit(sdlF).cast("double") / lit(n), 6)
          Some(minusTombstones(spark, dir,
              readKnown(spark, dir)
                .filter(col("tb").isin(buckets: _*))
                .filter(col("w").isin(live: _*)))
            .select(col("doc_id"), col("w"),
              round(lit(boost) * col("tf") /
                (lit(1.0 - bf) + lit(bf) * col("dl") / avgdlF), 6)
                .cast("decimal(28,6)").as("wtfp")))
        }
    }
    if (parts.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").cast("double").as("score"))
    val union = parts.reduce(_.unionByName(_))
    // ANY-field document frequency — the shared-saturation idf input
    val dfT = union.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val wtf = union.groupBy(col("doc_id"), col("w"))
      .agg(sum(col("wtfp")).as("wtf"))
    wtf.join(broadcast(dfT), Seq("w"))
      .withColumn("idf", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6))
      .withColumn("c", round(
        col("idf") * col("wtf").cast("double") /
          (lit(k1) + col("wtf").cast("double")), 6)
        .cast("decimal(28,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Drop rows whose `w` is provably absent from `dir`'s term filter,
    * ENGINE-side ([[bloomMayContain]]). */
  private def dropAbsentTermRows(spark: SparkSession, dir: String,
                                 rows: DataFrame): DataFrame =
    readTermFilter(spark, dir).fold(rows) { bits =>
      rows.withColumn("_tfb", typedLit(bits.toSeq))
        .filter(bloomMayContain).drop("_tfb")
    }

  /** Per-store probed buckets for a multi-store batched serve, in ONE
    * collected job for the whole fleet instead of one tiny job per
    * shard/field: each store's arm applies ITS Bloom drop
    * ([[dropAbsentTermRows]] with that store's literal bitset) and ITS
    * frozen bucket key to the shared `wanted` terms frame, the arms
    * union tagged by store index, and one distinct+collect fans the
    * result back out. Values are exactly what the per-store jobs
    * produced — same drop, same hash, same distinct — only the job
    * count changes (F fixed-cost collects → 1). */
  private def collectStoreBuckets(spark: SparkSession,
                                  stores: Seq[(String, Int)],
                                  wanted: DataFrame): Seq[Seq[Int]] = {
    val arms = stores.zipWithIndex.map { case ((dir, nb), i) =>
      dropAbsentTermRows(spark, dir, wanted)
        .select(lit(i).as("_store"),
          pmod(xxhash64(col("w")), lit(nb)).cast("int").as("tb"))
    }
    val rows = arms.reduce(_.unionByName(_)).distinct().collect()
    val byStore = rows.groupBy(_.getInt(0))
      .map { case (i, rs) => i -> rs.map(_.getInt(1)).toSeq.sorted }
    stores.indices.map(i => byStore.getOrElse(i, Seq.empty))
  }

  /** BATCHED multi-field BM25F — [[bm25fTopK]] for a whole
    * `(idCol, termsCol: array<string>)` query frame in the batched
    * job count: per field, the batch's distinct terms filter through
    * THAT store's term bits in-plan, its probed buckets read ONCE for
    * all queries, and the per-(doc, term) weighted-tf parts union
    * across fields exactly like the single-query serve. df and wtf
    * are query-independent (a term's any-field df is the same number
    * whichever queries ask), so the whole batch shares one dfT/wtf
    * computation; per-query top-k rides the bounded TopK aggregator.
    * Dead queries drop whole. */
  def bm25fTopKBatch(spark: SparkSession,
                     fields: Seq[(String, String, Double, Double)],
                     queries: DataFrame, idCol: String, termsCol: String,
                     k: Int, k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    val stats = fields.map { case (f, dir, _, _) =>
      f -> readStats(spark, dir)
    }
    val ns = stats.map(_._2._1).distinct
    require(ns.size == 1,
      s"field stores must hold the same corpus (n per field: " +
        s"${stats.map { case (f, (nf, _, _)) => s"$f=$nf" }.mkString(", ")})")
    val n = ns.head
    val qt = queries.select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
      .localCheckpoint()
    val wanted = qt.select(col("w")).distinct().localCheckpoint()
    // one collected job for every field's probed buckets
    val fieldBuckets = collectStoreBuckets(spark,
      fields.zip(stats).map { case ((_, dir, _, _), (_, (_, _, nbF))) =>
        (dir, nbF) }, wanted)
    val parts = fields.zip(stats).zip(fieldBuckets).flatMap {
      case (((_, dir, boost, bf), (_, (_, sdlF, nbF))), buckets) =>
        val wantedF = dropAbsentTermRows(spark, dir, wanted)
        if (buckets.isEmpty) None
        else {
          val avgdlF = round(lit(sdlF).cast("double") / lit(n), 6)
          Some(minusTombstones(spark, dir,
              readKnown(spark, dir)
                .filter(col("tb").isin(buckets: _*))
                .drop("tb")
                .join(wantedF, Seq("w")))
            .select(col("doc_id"), col("w"),
              round(lit(boost) * col("tf") /
                (lit(1.0 - bf) + lit(bf) * col("dl") / avgdlF), 6)
                .cast("decimal(28,6)").as("wtfp")))
        }
    }
    if (parts.isEmpty)
      return emptyTopKBatch(spark)
    val union = parts.reduce(_.unionByName(_))
    val dfT = union.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val wtf = union.groupBy(col("doc_id"), col("w"))
      .agg(sum(col("wtfp")).as("wtf"))
    val contrib = wtf.join(broadcast(dfT), Seq("w"))
      .withColumn("idf", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6))
      .withColumn("c", round(
        col("idf") * col("wtf").cast("double") /
          (lit(k1) + col("wtf").cast("double")), 6)
        .cast("decimal(28,6)"))
      .select(col("w"), col("doc_id"), col("c"))
    contrib.join(qt, Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** MULTI-PHRASE search (Lucene's MultiPhraseQuery): exact adjacency
    * where each slot accepts ANY of its alternative terms — the
    * operator behind wildcard-slot phrases ([[phraseSearchWildcard]]).
    * Slot `i`'s contribution is the UNION over its alternatives of
    * the anchor-shifted position sets `{pos(t) - i}`, and a document
    * matches where every slot's set intersects — [[phraseSearch]]'s
    * algebra with a union folded in per slot. A slot whose EVERY
    * alternative is provably absent answers empty with zero buckets
    * opened; dead alternatives inside a live slot just drop. The fold
    * runs rarest-slot-first (sketch-estimated df sum per slot — set
    * intersection commutes, so the order only sizes the
    * intermediates). Returns (doc_id, n_occurrences). */
  def phraseSearchMulti(spark: SparkSession, storeDir: String,
                        slots: Seq[Seq[String]]): DataFrame = {
    require(slots.size >= 2, "a 1-slot phrase is a plain term lookup")
    require(slots.forall(_.nonEmpty),
      "every slot needs at least one alternative term")
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    import spark.implicits._
    val (_, _, nb) = readStats(spark, storeDir)
    val distinctSlots = slots.map(_.distinct)
    val terms = distinctSlots.flatten.distinct
    val live = readTermFilter(spark, storeDir)
      .fold(terms)(bits => presentTerms(spark, terms, bits)).toSet
    if (distinctSlots.exists(_.forall(t => !live(t))))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_occurrences", lit(0L))
    val liveSlots = distinctSlots.map(_.filter(live))
    val liveTerms = liveSlots.flatten.distinct
    val buckets = bucketsOf(liveTerms, nb)
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("w").isin(liveTerms: _*))
        .select(col("doc_id"), col("w"), col("pos")))
    // per-(doc, slot) union of anchor-shifted positions; the
    // (w -> slot) map is slots-sized (a term may serve several slots)
    val slotMap = liveSlots.zipWithIndex
      .flatMap { case (ws, i) => ws.map(w => (w, i)) }.toDF("w", "i")
    val slotSets = post.join(broadcast(slotMap), Seq("w"))
      .select(col("doc_id"), col("i"),
        transform(col("pos"), p => p - col("i")).as("shifted"))
      .groupBy(col("doc_id"), col("i"))
      .agg(array_sort(array_distinct(flatten(
        collect_list(col("shifted"))))).as("s"))
    val order: Seq[Int] = readDfSketch(spark, storeDir)
      .fold[Seq[Int]](liveSlots.indices.toList) { sk =>
        val est = estimatedDf(spark, liveTerms, sk)
        liveSlots.indices.toList
          .sortBy(i => (liveSlots(i).map(est).sum, i))
      }
    val first = slotSets.filter(col("i") === order.head)
      .select(col("doc_id"), col("s").as("acc"))
    val matched = order.drop(1).foldLeft(first) { (acc, idx) =>
      acc.join(slotSets.filter(col("i") === idx)
          .select(col("doc_id"), col("s")), Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(col("acc"), col("s")).as("acc"))
        .filter(size(col("acc")) > 0)
    }
    matched.select(col("doc_id"),
      size(col("acc")).cast("long").as("n_occurrences"))
  }

  /** WILDCARD-SLOT phrase: each slot spec is either a literal term or
    * a `pre*` prefix pattern expanded against the vocab sidecar
    * ([[expandPrefix]], df-ranked, maxTerms-bounded); the expanded
    * slots serve through [[phraseSearchMulti]]. A pattern matching no
    * vocabulary term answers empty (that slot can never be filled);
    * a bare `*` refuses loudly (whole-vocabulary slots are a corpus
    * scan in disguise). */
  def phraseSearchWildcard(spark: SparkSession, storeDir: String,
                           slots: Seq[String],
                           maxTerms: Int = 64): DataFrame = {
    require(slots.size >= 2, "a 1-slot phrase is a plain term lookup")
    val expanded = slots.map { s =>
      require(s != null && s.nonEmpty, "empty phrase slot")
      if (s.endsWith("*"))
        expandPrefix(spark, storeDir, s.dropRight(1), maxTerms)
      else Seq(s)
    }
    if (expanded.exists(_.isEmpty))
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("n_occurrences", lit(0L))
    phraseSearchMulti(spark, storeDir, expanded)
  }

  /** The batched multi-phrase core over a slot-PAIR frame
    * `(query_id, plen, i, w)` — one row per (query, slot, alternative
    * term). Dead-query semantics are slot-conjunctive: a query drops
    * WHOLE iff some slot's EVERY alternative is provably absent (one
    * live alternative keeps the slot fillable). Slot i contributes
    * the UNION over its live alternatives of anchor-shifted position
    * sets; the per-(query, doc) intersect fold only runs for docs
    * covering every slot ([[phraseSearchBatch]]'s gate, slot-indexed).
    * Per query, rows are bit-identical to [[phraseSearchMulti]] (set
    * intersection commutes, so the batch's collect-order fold and the
    * single serve's rarest-first fold cannot disagree). */
  private def phraseMultiBatchCore(spark: SparkSession, storeDir: String,
                                   slotPairs: DataFrame): DataFrame = {
    val (_, _, nb) = readStats(spark, storeDir)
    val marked = markBloomDead(spark, storeDir, slotPairs)
    val deadQueries = marked.groupBy(col("query_id"), col("i"))
      .agg(min(col("_dead").cast("int")).as("alldead"))
      .filter(col("alldead") === 1)
      .select(col("query_id")).distinct()
    val (qslots, buckets) = checkpointWithBuckets(
      marked.filter(!col("_dead")).drop("_dead")
      .join(deadQueries, Seq("query_id"), "left_anti")
      .withColumn("tb", pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .repartition(spark.sessionState.conf.numShufflePartitions))
    if (buckets.isEmpty)
      return readKnown(spark, storeDir).select(col("doc_id")).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn("n_occurrences", lit(0L))
        .select(col("query_id"), col("doc_id"), col("n_occurrences"))
    val terms = qslots.select(col("w")).distinct()
    val post = minusTombstones(spark, storeDir,
      readKnown(spark, storeDir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(terms, Seq("w"))
        .select(col("doc_id"), col("w"), col("pos")))
    // per-(query, doc, slot): union of the slot's alternatives'
    // anchor-shifted positions (a term may serve several slots or
    // several queries — the postings row is read once and fans out
    // through the join)
    val slotSets = post.join(qslots.select(col("query_id"), col("plen"),
        col("i"), col("w")), Seq("w"))
      .select(col("query_id"), col("doc_id"), col("plen"), col("i"),
        transform(col("pos"), p => p - col("i")).as("shifted"))
      .groupBy(col("query_id"), col("doc_id"), col("plen"), col("i"))
      .agg(array_sort(array_distinct(flatten(
        collect_list(col("shifted"))))).as("s"))
    slotSets
      .groupBy(col("query_id"), col("doc_id"), col("plen"))
      // one row per slot post-agg, so count(*) IS the covered-slot
      // count — a doc covering only a subset never reaches the fold
      .agg(count(lit(1)).as("nslots"), collect_list(col("s")).as("arrs"))
      .filter(col("nslots") === col("plen"))
      .withColumn("acc", expr(
        "aggregate(slice(arrs, 2, size(arrs) - 1), arrs[0], " +
          "(acc, x) -> array_intersect(acc, x))"))
      .filter(size(col("acc")) > 0)
      .select(col("query_id"), col("doc_id"),
        size(col("acc")).cast("long").as("n_occurrences"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** BATCHED multi-phrase search — [[phraseSearchMulti]] for a whole
    * query FRAME `(idCol, slotsCol: array<array<string>>)`: every
    * probed bucket is read once for all the queries probing it, and
    * per query the rows are bit-identical to the per-phrase loop.
    * A query with an all-absent slot drops whole (the batched
    * family's dead-query convention — that slot can never be
    * filled). Returns (query_id, doc_id, n_occurrences). */
  def phraseSearchMultiBatch(spark: SparkSession, storeDir: String,
                             queries: DataFrame, idCol: String,
                             slotsCol: String): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(slotsCol).as("slots"))
    require(q.filter(col("slots").isNull || size(col("slots")) < 2)
        .limit(1).count() == 0L,
      "every multi-phrase needs at least two slots")
    require(q.filter(exists(col("slots"),
        s => s.isNull || size(s) === 0)).limit(1).count() == 0L,
      "every slot needs at least one alternative term")
    // a slot of [null] passes the size check but every alternative
    // would drop post-explode — the query would silently answer empty
    // instead of refusing like the single serve's per-slot require
    require(q.filter(exists(col("slots"), s =>
        size(org.apache.spark.sql.functions.filter(s,
          a => a.isNotNull)) === 0)).limit(1).count() == 0L,
      "every slot needs at least one NON-NULL alternative term")
    val pairs = q
      .select(col("query_id"), size(col("slots")).cast("long").as("plen"),
        posexplode(col("slots")).as(Seq("i", "alts")))
      .select(col("query_id"), col("plen"), col("i"),
        explode(array_distinct(col("alts"))).as("w"))
      .filter(col("w").isNotNull)
    phraseMultiBatchCore(spark, storeDir, pairs)
  }

  /** BATCHED wildcard-slot phrase — [[phraseSearchWildcard]] for a
    * whole query FRAME `(idCol, slotsCol: array<string>)` where each
    * slot is a literal term or a `pre*` prefix: ONE vocab-sized join
    * expands every pattern slot for the whole batch (per-(query,
    * slot) candidates rank (df desc, w) like [[expandPrefix]],
    * maxTerms-bounded), literals pass through, and a query whose
    * pattern matches no vocabulary term drops whole (that slot can
    * never be filled — the single serve's empty answer). The expanded
    * pair frame rides [[phraseMultiBatchCore]]'s shared bucket-pruned
    * read. */
  def phraseSearchWildcardBatch(spark: SparkSession, storeDir: String,
                                queries: DataFrame, idCol: String,
                                slotsCol: String,
                                maxTerms: Int = 64): DataFrame = {
    require(isPositional(spark, storeDir),
      s"$storeDir carries no positions — build with buildPositional")
    require(maxTerms >= 1, "need at least one expansion slot")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(slotsCol).as("specs"))
    require(q.filter(col("specs").isNull || size(col("specs")) < 2)
        .limit(1).count() == 0L,
      "every wildcard phrase needs at least two slots")
    require(q.filter(exists(col("specs"), s =>
        s.isNull || length(s) === 0 || s === "*")).limit(1).count() == 0L,
      "empty slots and bare '*' (a whole-vocabulary slot) are refused")
    val spec = q
      .select(col("query_id"), size(col("specs")).cast("long").as("plen"),
        posexplode(col("specs")).as(Seq("i", "spec")))
    val lits = spec.filter(!col("spec").endsWith("*"))
      .select(col("query_id"), col("plen"), col("i"),
        col("spec").as("w"))
    val pats = spec.filter(col("spec").endsWith("*"))
      .withColumn("pre", expr("substring(spec, 1, length(spec) - 1)"))
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("i"))
      .orderBy(col("df").desc, col("w"))
    val expanded = vocabulary(spark, storeDir)
      .join(broadcast(pats), col("w").startsWith(col("pre")))
      .withColumn("_r", row_number().over(wExp))
      .filter(col("_r") <= maxTerms)
      .select(col("query_id"), col("plen"), col("i"), col("w"))
    // queries with an unexpandable pattern slot drop whole
    val unfillable = pats
      .join(expanded.select(col("query_id"), col("i")).distinct(),
        Seq("query_id", "i"), "left_anti")
      .select(col("query_id")).distinct()
    val pairs = lits.unionByName(expanded)
      .join(unfillable, Seq("query_id"), "left_anti")
    phraseMultiBatchCore(spark, storeDir, pairs)
  }

  /** BATCHED fuzzy BM25 — a whole `(idCol, termCol, distCol)` query
    * frame in the [[topKBatch]] job count. The expansion join carries
    * only the LENGTH BAND (a term outside it cannot be within maxd),
    * so each vocab row pays one subtraction before any distance is
    * computed; per-query candidates rank (distance, df desc, w) like
    * [[expandFuzzy]]. Zero-match queries drop whole. */
  def fuzzyTopKBatch(spark: SparkSession, storeDir: String,
                     queries: DataFrame, idCol: String, termCol: String,
                     distCol: String, k: Int, maxTerms: Int = 16,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(maxTerms >= 1, "need at least one expansion slot")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(termCol).as("qw"), col(distCol).cast("int").as("maxd"))
    require(q.filter(col("qw").isNull || length(col("qw")) === 0 ||
        col("maxd").isNull || col("maxd") < 0).limit(1).count() == 0L,
      "every fuzzy query needs a non-empty term and maxDist >= 0")
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("d"), col("df").desc, col("w"))
    val expanded = vocabulary(spark, storeDir)
      .join(broadcast(q), length(col("w")).between(
        length(col("qw")) - col("maxd"), length(col("qw")) + col("maxd")))
      .withColumn("d", levenshtein(col("w"), col("qw")))
      .filter(col("d") <= col("maxd"))
      .withColumn("_r", row_number().over(wExp))
      .filter(col("_r") <= maxTerms)
      .groupBy(col("query_id"))
      .agg(collect_list(col("w")).as("terms"))
    // through the front door: an opted-in store serves the expanded
    // frame block-max pruned, bit-identically
    serveBatch(spark, Seq(storeDir), expanded, "query_id", "terms", k,
      "bm25", k1, b)
  }

  /** BATCHED regexp BM25 — a whole `(idCol, patternCol)` query frame
    * in the [[topKBatch]] job count; per-query candidates rank
    * (df desc, w) like [[expandRegexp]]. The per-row pattern rides
    * SQL RLike (non-foldable right side), one vocab-sized pass for
    * the whole batch. Zero-match queries drop whole. */
  def regexpTopKBatch(spark: SparkSession, storeDir: String,
                      queries: DataFrame, idCol: String,
                      patternCol: String, k: Int, maxTerms: Int = 64,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(maxTerms >= 1, "need at least one expansion slot")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(patternCol).as("pat"))
    require(q.filter(col("pat").isNull ||
        length(col("pat")) === 0).limit(1).count() == 0L,
      "every regexp query needs a non-empty pattern")
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("df").desc, col("w"))
    val expanded = vocabulary(spark, storeDir)
      .join(broadcast(q), expr("w rlike pat"))
      .withColumn("_r", row_number().over(wExp))
      .filter(col("_r") <= maxTerms)
      .groupBy(col("query_id"))
      .agg(collect_list(col("w")).as("terms"))
    // through the front door: an opted-in store serves the expanded
    // frame block-max pruned, bit-identically
    serveBatch(spark, Seq(storeDir), expanded, "query_id", "terms", k,
      "bm25", k1, b)
  }

  /** SCATTER-GATHER BM25 across N store SHARDS — the serve topology a
    * 100 TB deployment actually runs: the corpus is document-
    * partitioned into many stores (per tenant / time window / ingest
    * line), and one query must rank across all of them.
    *
    * IDF-CONSISTENCY CONTRACT: scores use GLOBAL statistics — df(w) =
    * Σ per-shard df, n = Σ nᵢ, avgdl from Σ Σdlᵢ — so the answer is
    * bit-identical to [[topK]] over ONE store holding the union
    * (which is what the oracle replays). The tempting alternative
    * (each shard ranks with its own local df) is rejected: a doc's
    * score would depend on WHICH shard it landed in, re-sharding
    * would reorder results, and cross-shard ranks would not compose.
    * The price of the global contract is one terms-sized df exchange
    * — nothing corpus-shaped moves.
    *
    * Plan shape: ONE plan over the union of every shard's read, each
    * with the standard three-layer prune (its OWN term bits, bucket
    * partitions, w-zones, tombstone mask) and tagged with its shard;
    * one terms-sized aggregate over the union gives the global df
    * (broadcast), and the union's postings score with the global
    * constants into one top-k (TakeOrderedAndProject — a k-bounded
    * gather, never a doc-set gather). Shards must partition the
    * corpus by document: a doc_id present in two shards ranks as two
    * independent docs (docs group by shard and doc_id), exactly as it
    * would double-count in one store. */
  def topKSharded(spark: SparkSession, shardDirs: Seq[String],
                  terms: Seq[String], k: Int, k1: Double = 1.2,
                  b: Double = 0.75): DataFrame =
    rankSharded(spark, shardDirs, terms, k, Bm25(k1, b))

  /** [[topKSharded]] / [[lmTopKSharded]]: a shard fleet, one term set. */
  private def rankSharded(spark: SparkSession, shardDirs: Seq[String],
                          terms: Seq[String], k: Int,
                          sc: Scorer): DataFrame = {
    require(shardDirs.nonEmpty, "need at least one shard")
    require(terms.nonEmpty, "need at least one query term")
    val stats = shardDirs.map(d => readStats(spark, d))
    val n = stats.map(_._1).sum
    val sdl = stats.map(_._2).sum
    val reads = shardDirs.zip(stats).zipWithIndex.flatMap {
      case ((dir, (_, _, nb)), i) =>
        val live = readTermFilter(spark, dir)
          .fold(terms)(bits => presentTerms(spark, terms, bits))
        if (live.isEmpty) None
        else Some(minusTombstones(spark, dir,
          readKnown(spark, dir)
            .filter(col("tb").isin(bucketsOf(live, nb): _*))
            .filter(col("w").isin(live: _*))
            .select(col("doc_id"), col("w"), col("tf"), col("dl")))
          .withColumn("_shard", lit(i)))
    }
    if (reads.isEmpty) return emptyTopK(spark, shardDirs.head)
    // ONE plan over the tagged union: the global statistic is one
    // terms-sized aggregate — the only cross-shard exchange besides the
    // k-bounded gather — and docs key on (shard, doc_id)
    val tf = reads.reduce(_.unionByName(_))
    val statT = tf.groupBy(col("w")).agg(sc.statAgg.as(sc.stat))
    sc.score(broadcast(statT), n, sdl)(tf)
      .groupBy(col("_shard"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("n_terms"), col("score"))
  }

  /** [[topKSharded]] with per-shard BLOCK-MAX pruning — the two scale
    * mechanisms compose: global statistics come from the shards'
    * `_blockmax` sidecars (df = Σ per-shard sidecar df — ZERO data
    * files for the global df pass, where [[topKSharded]] pays a
    * per-shard counting read, and every shard's rows come back in one
    * read). One θ probe reads every shard's best-cap files; each
    * shard's survivors follow from its caps against the GLOBAL idf
    * and that θ ([[pruneFiles]]); one plan scans every shard's
    * survivors, tagged by shard, into one k-bounded top-k. Exactness
    * per shard follows from the single-store theorem with the global
    * scoring expression, as in the unpruned scatter. A shard
    * with pending tombstones would make the GLOBAL df stale-high, so
    * any pending tombstone delegates the whole serve to
    * [[topKSharded]] (exact, unpruned) until compaction purges.
    *
    * PRECONDITION, soft: EVERY shard must carry a `_blockmax` sidecar
    * (global df sums across all of them — one un-opted shard would
    * leave its postings invisible to the df/cap algebra). A mixed
    * fleet therefore delegates to [[topKSharded]] (exact, unpruned)
    * rather than failing mid-scatter with a store-level error —
    * the same delegation tombstones take; opt the stragglers in with
    * [[buildBlockStats]] to restore the pruned path. */
  def topKShardedPruned(spark: SparkSession, shardDirs: Seq[String],
                        terms: Seq[String], k: Int, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame =
    rankShardedPruned(spark, shardDirs, terms, k, Bm25(k1, b))

  /** [[topKShardedPruned]] / [[lmTopKShardedPruned]]. */
  private def rankShardedPruned(spark: SparkSession, shardDirs: Seq[String],
                                terms: Seq[String], k: Int,
                                sc: Scorer): DataFrame = {
    require(shardDirs.nonEmpty, "need at least one shard")
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, "need at least one result slot")
    import spark.implicits._
    lastPruneStats = None
    // out-of-monotone-range params delegate — see [[rankPruned]]
    if (!sc.monotone ||
        shardDirs.exists(d => tombstoneCount(spark, d) > 0L) ||
        shardDirs.exists(d =>
          !graft.sinks.HadoopSwap.exists(spark, blockmaxPath(d))) ||
        shardDirs.exists(d => !tryEnsureBlockCoverage(spark, d))) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rankSharded(spark, shardDirs, terms, k, sc)
    }
    val stats = shardDirs.map(d => readStats(spark, d))
    val n = stats.map(_._1).sum
    val sdl = stats.map(_._2).sum
    val lives = shardDirs.map(dir => readTermFilter(spark, dir)
      .fold(terms)(bits => presentTerms(spark, terms, bits)))
    // every shard's block rows in one read (sidecar-only so far)
    val bss = readBlockRows(spark, shardDirs.zip(lives))
    if (bss.forall(_.isEmpty)) return emptyTopK(spark, shardDirs.head)
    // GLOBAL statistic from the sidecars alone — the scatter's whole
    // statistic pass costs zero data files
    val statMap: Map[String, Long] = bss.flatten
      .groupBy(_.w).map { case (w, rs) => w -> rs.map(sc.sidecarStat).sum }
    val scoreOf = sc.score(broadcast(statMap.toSeq.toDF("w", sc.stat)),
      n, sdl) _
    // every shard's caps and the GLOBAL floors: a scorer with negative
    // contributions (the LM length norm) makes unseen contributions
    // negative, so the shared θ carries Σ min(0, floor(w)) evaluated at
    // the per-term max maxdl across EVERY shard's sidecar — more
    // negative than any shard-local floor, hence safe for each
    val (caps, negAdjust) = capsAndFloor(spark, bss, sc, statMap, n, sdl)
    // `files(i)` of shard i, every shard in ONE tagged union plan
    def scan(files: Seq[Seq[String]]) = scoreOf(files.zipWithIndex.collect {
      case (fs, i) if fs.nonEmpty =>
        readKnownUnder(spark, shardDirs(i), fs)
          .filter(col("w").isin(lives(i): _*))
          .select(col("doc_id"), col("w"), col("tf"), col("dl"),
            lit(i).as("_shard"))
    }.reduce(_.unionByName(_)))
    // GLOBAL θ probe: every shard's per-term best-cap file, the k-th
    // partial across ALL shards. Valid for every shard (the k-th of a
    // superset dominates the global s_k's lower bound), and strictly
    // stronger than shard-local probes — a shard holding only low-cap
    // bands prunes against the DENSE shards' θ instead of its own
    val probe = scan(caps.map(probeFilesOf))
      .groupBy(col("_shard"), col("doc_id")).agg(sum(col("c")).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .select(col("s")).collect()
    val theta = if (probe.length < k) None
      else Some(micros(probe.last.getDecimal(0)) + negAdjust)
    // each shard's survivor rule under the shared θ, on the driver from
    // the caps above; the ledger sums the shards' file counts
    val pruned = caps.map(pruneFiles(_, theta))
    lastPruneStats = Some(PruneStats(pruned.map(_.relevant.size).sum,
      pruned.map(_.survivors.size).sum, pruned.map(_.skipped).sum, theta,
      delegated = false))
    // a shared θ can prove a whole weak shard sub-θ: it reads nothing
    if (pruned.forall(_.survivors.isEmpty))
      return emptyTopK(spark, shardDirs.head)
    completeTopK(scan(pruned.map(_.survivors)), pruned.map(_.outTerms), k)
  }

  /** SCATTER-GATHER Dirichlet LM — [[topKSharded]]'s contract for the
    * language-model ranker: GLOBAL statistics (ctf = Σ per-shard
    * collection term frequency, |C| = Σ per-shard Σdl), so the answer
    * is bit-identical to [[lmTopK]] over one store holding the union
    * and re-sharding can never reorder results. The only cross-shard
    * exchange is the terms-sized ctf union; gathers are k-bounded. */
  def lmTopKSharded(spark: SparkSession, shardDirs: Seq[String],
                    terms: Seq[String], k: Int,
                    mu: Double = 2000.0): DataFrame =
    rankSharded(spark, shardDirs, terms, k, Lm(mu))

  /** [[lmTopKSharded]] with per-shard BLOCK-MAX pruning — the
    * [[topKShardedPruned]] composition for the LM ranker: global ctf
    * from the shards' sidecars (Σ sumtf — zero data files), one
    * cross-shard θ probe whose k-th partial dominates every
    * shard-local probe, and GLOBAL floors (per-term max maxdl across
    * every shard's sidecar) restoring θ ≤ s_k under the LM length
    * norm's negative contributions. Pending tombstones, a shard
    * without `_blockmax`, or a failed coverage heal delegate the
    * whole scatter to [[lmTopKSharded]] (exact, unpruned). */
  def lmTopKShardedPruned(spark: SparkSession, shardDirs: Seq[String],
                          terms: Seq[String], k: Int,
                          mu: Double = 2000.0): DataFrame =
    rankShardedPruned(spark, shardDirs, terms, k, Lm(mu))

  /** BATCHED scatter-gather BM25 — [[topKSharded]] for a whole
    * `(idCol, termsCol: array<string>)` query frame: per-query rows
    * bit-identical to [[topKBatch]] over one store holding the union.
    * Global df is the per-shard terms-sized counting union (one
    * exchange for the WHOLE batch); each shard reads its probed
    * buckets once for every query, keeps a k-bounded per-(query)
    * top through the bounded TopK aggregator, and the gather re-ranks
    * shards×k rows per query — never a doc-set. */
  def topKShardedBatch(spark: SparkSession, shardDirs: Seq[String],
                       queries: DataFrame, idCol: String,
                       termsCol: String, k: Int, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame =
    rankShardedBatch(spark, shardDirs, queries, idCol, termsCol, k,
      Bm25(k1, b))

  /** [[topKShardedBatch]] / [[lmTopKShardedBatch]]. */
  private def rankShardedBatch(spark: SparkSession, shardDirs: Seq[String],
                               queries: DataFrame, idCol: String,
                               termsCol: String, k: Int,
                               sc: Scorer): DataFrame = {
    require(shardDirs.nonEmpty, "need at least one shard")
    require(k >= 1, "need at least one result slot")
    val stats = shardDirs.map(d => readStats(spark, d))
    val n = stats.map(_._1).sum
    val sdl = stats.map(_._2).sum
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
      .localCheckpoint()
    val wanted = qt.select(col("w")).distinct().localCheckpoint()
    // per-shard Bloom drop: a term absent HERE may live elsewhere —
    // probed buckets for every shard in one collected job
    val shardBuckets = collectStoreBuckets(spark,
      shardDirs.zip(stats).map { case (dir, (_, _, nb)) => (dir, nb) },
      wanted)
    val reads = shardDirs.zip(shardBuckets).flatMap {
      case (dir, buckets) =>
      val wantedS = dropAbsentTermRows(spark, dir, wanted)
      if (buckets.isEmpty) None
      else Some(minusTombstones(spark, dir,
        readKnown(spark, dir)
          .filter(col("tb").isin(buckets: _*))
          .drop("tb")
          .join(wantedS, Seq("w"))
          .select(col("doc_id"), col("w"), col("tf"), col("dl"))))
    }
    if (reads.isEmpty)
      return emptyTopKBatch(spark)
    val statT = reads.map(_.groupBy(col("w")).agg(sc.statAgg.as(sc.stat)))
      .reduce(_.unionByName(_))
      .groupBy(col("w")).agg(sum(col(sc.stat)).as(sc.stat))
    val scoreOf = sc.score(broadcast(statT), n, sdl) _
    val perShard = reads.map { tf =>
      scoreOf(tf)
        .select(col("w"), col("doc_id"), col("c"))
        .join(qt, Seq("w"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("c")).cast("double").as("score"))
        .groupBy(col("query_id"))
        .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
          col("score"), col("n_terms")).as("hits"))
        .select(col("query_id"), explode(col("hits")).as("hit"))
        .select(col("query_id"), col("hit._1").as("doc_id"),
          col("hit._3").as("n_terms"), col("hit._2").as("score"))
    }
    perShard.reduce(_.unionByName(_))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** [[topKShardedBatch]] with per-shard BLOCK-MAX pruning — the
    * batched q277 composition: global df sums from the shards'
    * sidecars (zero data files), ONE cross-shard probe union sets a
    * per-QUERY global θ (the k-th partial over every shard's
    * per-term best-cap files, which dominates any shard-local θ),
    * and each shard then runs the distributed batched prune algebra
    * under that shared θ frame before the k-bounded gather. Pending
    * tombstones, an un-opted shard, or a failed heal delegate to
    * [[topKShardedBatch]]. */
  def topKShardedPrunedBatch(spark: SparkSession, shardDirs: Seq[String],
                             queries: DataFrame, idCol: String,
                             termsCol: String, k: Int, k1: Double = 1.2,
                             b: Double = 0.75): DataFrame =
    rankShardedPrunedBatch(spark, shardDirs, queries, idCol, termsCol, k,
      Bm25(k1, b))

  /** [[topKShardedPrunedBatch]] / [[lmTopKShardedPrunedBatch]]. */
  private def rankShardedPrunedBatch(spark: SparkSession,
                                     shardDirs: Seq[String],
                                     queries: DataFrame, idCol: String,
                                     termsCol: String, k: Int,
                                     sc: Scorer): DataFrame = {
    require(shardDirs.nonEmpty, "need at least one shard")
    require(k >= 1, "need at least one result slot")
    import spark.implicits._
    lastPruneStats = None
    // out-of-monotone-range params delegate — see [[rankPruned]]
    if (!sc.monotone ||
        shardDirs.exists(d => tombstoneCount(spark, d) > 0L) ||
        shardDirs.exists(d =>
          !graft.sinks.HadoopSwap.exists(spark, blockmaxPath(d))) ||
        shardDirs.exists(d => !tryEnsureBlockCoverage(spark, d))) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rankShardedBatch(spark, shardDirs, queries, idCol, termsCol,
        k, sc)
    }
    val stats = shardDirs.map(d => readStats(spark, d))
    val n = stats.map(_._1).sum
    val sdl = stats.map(_._2).sum
    val (qt, qtNonEmpty) = checkpointWithNonEmpty(queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
      .repartition(spark.sessionState.conf.numShufflePartitions))
    if (!qtNonEmpty)
      return emptyTopKBatch(spark)
    val termsF = qt.select(col("w")).distinct()
    // per-shard sidecar frames for the union terms (live-file-pruned,
    // raced-heal-deduped — the prunedBatchFrames read, per shard)
    val bsByShard = shardDirs.map { dir =>
      val liveFiles = graft.sinks.SkippingStore
        .listDataFileRelPaths(spark, dir)
      graft.sinks.SidecarFold.restoreAside(spark, blockmaxPath(dir))
      dir -> graft.sinks.SidecarFold.withReadRetry() {
        readKnown(spark, blockmaxPath(dir))
          .join(broadcast(termsF), Seq("w"))
          .join(broadcast(liveFiles.toDF("file")), Seq("file"),
            "left_semi")
          .dropDuplicates("file", "w")
          .localCheckpoint()
      }
    }
    // GLOBAL statistic from the sidecars alone — zero data files
    val scoreOf = sc.score(broadcast(
      bsByShard.map(_._2.groupBy(col("w"))
          .agg(sum(col(sc.sidecarCol)).as(sc.stat)))
        .reduce(_.unionByName(_))
        .groupBy(col("w")).agg(sum(col(sc.stat)).as(sc.stat))), n, sdl) _
    val cm = (col("c") * 1000000L).cast("long")
    // per-QUERY global θ: per-shard per-term best-cap probe files,
    // one union read, per-query k-th partial, GLOBAL floors (BM25's
    // are zero; kept general through the same least(cm, 0) fold)
    val bsUnion = bsByShard.map(_._2).reduce(_.unionByName(_))
    val floors = scoreOf(bsUnion.groupBy(col("w"))
        .agg(max(col("maxdl")).as("dl")).withColumn("tf", lit(1L)))
      .select(col("w"), least(cm, lit(0L)).as("floor"))
    val negAdj = qt.join(broadcast(floors), Seq("w"))
      .groupBy(col("query_id")).agg(sum(col("floor")).as("neg_adj"))
    // per-shard per-term best-cap probe files in ONE collected job
    // for the whole fleet (the window partitions by (_shard, w), so
    // each shard's winners are exactly the per-shard job's — only the
    // job count changes: S fixed-cost collects -> 1)
    val wprobe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_shard"), col("w"))
      .orderBy(col("cap").desc, col("file"))
    val probeFilesByShard: Map[Int, Seq[String]] =
      bsByShard.zipWithIndex.map { case ((_, bsDF), i) =>
        scoreOf(bsDF.select(col("file"), col("w"),
            col("maxtf").as("tf"), col("mindl").as("dl")))
          .select(lit(i).as("_shard"), col("file"), col("w"),
            cm.as("cap"))
      }.reduce(_.unionByName(_))
        .withColumn("_r", row_number().over(wprobe))
        .filter(col("_r") === 1)
        .select(col("_shard"), col("file")).distinct()
        .collect()
        .groupBy(_.getInt(0))
        .map { case (i, rs) =>
          i -> rs.map(_.getString(1)).toSeq.sorted }
    val probeReads = bsByShard.zipWithIndex.flatMap { case ((dir, _), i) =>
      val files = probeFilesByShard.getOrElse(i, Seq.empty)
      if (files.isEmpty) None
      else Some(readKnownUnder(spark, dir, files)
        .join(broadcast(termsF), Seq("w")))
    }
    if (probeReads.isEmpty)
      return emptyTopKBatch(spark)
    val wrank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    val thetaQ = scoreOf(probeReads.reduce(_.unionByName(_)))
      .join(qt.select(col("query_id"), col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg((sum(col("c")) * 1000000L).cast("long").as("s"))
      .withColumn("_r", row_number().over(wrank)).filter(col("_r") === k)
      .join(negAdj, Seq("query_id"))
      .select(col("query_id"), (col("s") + col("neg_adj")).as("theta"))
      .localCheckpoint()
    var acc = PruneStats(0, 0, 0, None, delegated = false)
    val perShard = bsByShard.map { case (dir, bsDF) =>
      val served = prunedServeBatch(spark, dir, qt, k, bsDF, scoreOf,
        sharedThetaQ = Some(thetaQ))
      lastPruneStats.foreach(s => acc = PruneStats(
        acc.relevantFiles + s.relevantFiles,
        acc.survivors + s.survivors,
        acc.skipped + s.skipped, None, delegated = false))
      served
    }
    lastPruneStats = Some(acc)
    perShard.reduce(_.unionByName(_))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** BATCHED scatter-gather Dirichlet LM — [[lmTopKSharded]] for a
    * whole query frame, per-query rows bit-identical to
    * [[lmTopKBatch]] over the union store: one terms-sized global ctf
    * union for the whole batch, per-shard bounded tops, a shards×k
    * gather per query. */
  def lmTopKShardedBatch(spark: SparkSession, shardDirs: Seq[String],
                         queries: DataFrame, idCol: String,
                         termsCol: String, k: Int,
                         mu: Double = 2000.0): DataFrame =
    rankShardedBatch(spark, shardDirs, queries, idCol, termsCol, k, Lm(mu))

  /** [[lmTopKShardedBatch]] with per-shard BLOCK-MAX pruning — the
    * LM face of [[topKShardedPrunedBatch]]: global ctf from the
    * shards' sidecars (zero data files), one cross-shard probe union
    * setting the per-query global θ WITH global floors (the generic
    * least(c, 0) fold — negative for the LM length norm), then each
    * shard's distributed batched prune under the shared frame.
    * Pending tombstones, an un-opted shard, or a failed heal delegate
    * to [[lmTopKShardedBatch]]. */
  def lmTopKShardedPrunedBatch(spark: SparkSession,
                               shardDirs: Seq[String],
                               queries: DataFrame, idCol: String,
                               termsCol: String, k: Int,
                               mu: Double = 2000.0): DataFrame =
    rankShardedPrunedBatch(spark, shardDirs, queries, idCol, termsCol, k,
      Lm(mu))

  // ------------------------------------------------------------------
  // ONE SERVE FRONT DOOR. The ranked-serve matrix is
  // {plain, pruned} × {single, batched} × {single-store, sharded} ×
  // {BM25, LM}, and every cell is an explicit verb over its `rank*`
  // core — correct, but a caller picking by method name can silently
  // land on a slow path or an inapplicable one. serve()/serveBatch()
  // inspect the stores and call the core of the cheapest EXACT path
  // (both routes of every cell are bit-identical, so the rule only
  // changes cost):
  //   - a FLEET prunes when every shard opted into `_blockmax`: a
  //     shared cross-shard θ can prove a whole weak shard sub-θ;
  //   - a SINGLE opted-in store prunes only when two data files of one
  //     `tb` bucket overlap in their `w` zones ([[zonesDisjoint]]);
  //     otherwise pruning provably skips nothing. build and compact
  //     write postings with repartitionByRange(nb × filesPerBucket,
  //     tb, w), so with disjoint zones each query term lives in exactly
  //     one file; [[pruneFiles]]' survivor rule keeps f iff
  //     max(cap, 0) + restPlus(w) ≥ θ, which with one file per term
  //     reads totalPlus ≥ θ; and θ ≤ the k-th exact score ≤ totalPlus.
  //     Every relevant file survives, so the pruned route would read
  //     each twice (probe, survivors) plus the sidecar — 13 jobs where
  //     topK runs 5. Appends land files whose zones overlap the old
  //     ones, which brings pruning back until the next compact;
  //   - a missing zone sidecar, or one not covering every live file,
  //     proves nothing and keeps the pruned route;
  //   - a store without `_blockmax` serves unpruned.
  // The pruned cores themselves keep the tombstone / heal-failure /
  // mixed-fleet delegations, so the front door never re-checks those.
  // Every explicit verb stays public: the front door is a default, not
  // a replacement. [[lastServeRoute]] records the route taken (the
  // dispatch-matrix spec pins it; never feeds an answer).

  @volatile private[graft] var lastServeRoute: Option[String] = None

  private def hasBlockmax(spark: SparkSession, dir: String): Boolean =
    graft.sinks.HadoopSwap.exists(spark, blockmaxPath(dir))

  /** Whether no two data files of one `tb` bucket overlap in their `w`
    * zones — the single-store condition under which block-max pruning
    * skips nothing (the front-door comment above). The zones come
    * through the fingerprint-keyed sidecar cache, so a warm store state
    * costs two listings and no Spark job. False — "not proven" — when
    * the sidecar is missing, does not map exactly the live files, or a
    * zone lacks a bound. Zones compare in UTF-8 byte order, the order
    * the writer's min/max used. The cache key is the scheme-qualified
    * root the zone-prune rule also loads under, so a serve that goes on
    * to read the store reuses this load instead of repeating it. */
  private[graft] def zonesDisjoint(spark: SparkSession,
                                   dir: String): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    val live = graft.sinks.SkippingStore.listDataFileRelPaths(spark, dir)
    val zones = scala.util.Try(graft.sinks.SkippingStore
        .loadMultiSidecarCached(spark,
          graft.sinks.Constraints.qualified(spark, dir), live))
      .toOption.flatten.flatMap(_.byCol.get("w"))
      .filter(_.forall(z => z.zminStr.isDefined && z.zmaxStr.isDefined))
    // per bucket directory, sorted by zone min: disjoint iff each zone
    // ends strictly before the next one starts
    zones.exists(_.groupBy(z => z.file.take(z.file.lastIndexOf('/') + 1))
      .values.forall { bucket =>
        val byMin = bucket.map(z => (UTF8String.fromString(z.zminStr.get),
            UTF8String.fromString(z.zmaxStr.get)))
          .sortWith((a, b) => a._1.compareTo(b._1) < 0)
        byMin.zip(byMin.drop(1)).forall { case (a, b) =>
          a._2.compareTo(b._1) < 0 }
      })
  }

  /** Whether the front door takes the block-max pruned route: every
    * store opted in and, for a single store, its zones overlap. */
  private def prunes(spark: SparkSession, storeDirs: Seq[String]): Boolean =
    storeDirs.forall(hasBlockmax(spark, _)) &&
      (storeDirs.size > 1 || !zonesDisjoint(spark, storeDirs.head))

  /** Serve a ranked term query from one store or a shard fleet,
    * picking the cheapest exact path by the rule above: pruned on a
    * fleet of opted-in shards, or on one opted-in store whose bucket
    * files overlap in `w`; unpruned otherwise. `scorer`: "bm25"
    * (default) or "lm" (Dirichlet; `mu`). Answers are bit-identical
    * whichever path dispatch lands on — that is the pruning/scatter
    * contract this file proves — so the choice is pure mechanics. */
  def serve(spark: SparkSession, storeDirs: Seq[String],
            terms: Seq[String], k: Int, scorer: String = "bm25",
            k1: Double = 1.2, b: Double = 0.75,
            mu: Double = 2000.0): DataFrame = {
    require(storeDirs.nonEmpty, "need at least one store")
    val sc = scorerOf(scorer, k1, b, mu)
    val local = storeDirs.size == 1
    val pruned = prunes(spark, storeDirs)
    lastServeRoute = Some(sc.route(cell(local, pruned, batch = false)))
    (local, pruned) match {
      case (true, true) => rankPruned(spark, storeDirs.head, terms, k, sc)
      case (true, false) => rank(spark, storeDirs.head, terms, k, sc)
      case (false, true) => rankShardedPruned(spark, storeDirs, terms, k, sc)
      case (false, false) => rankSharded(spark, storeDirs, terms, k, sc)
    }
  }

  /** [[serve]] for a whole `(idCol, termsCol: array<string>)` query
    * frame — the batched column of the same dispatch matrix, under the
    * same rule: one opted-in store whose bucket files share no term
    * serves through [[topKBatch]] / [[lmTopKBatch]] (the batched
    * survivor rule keeps every relevant file there too — 13 jobs
    * instead of 45 for a batch of 16), a fleet or an overlapping store
    * through the pruned batch. */
  def serveBatch(spark: SparkSession, storeDirs: Seq[String],
                 queries: DataFrame, idCol: String, termsCol: String,
                 k: Int, scorer: String = "bm25", k1: Double = 1.2,
                 b: Double = 0.75, mu: Double = 2000.0): DataFrame = {
    require(storeDirs.nonEmpty, "need at least one store")
    val sc = scorerOf(scorer, k1, b, mu)
    val local = storeDirs.size == 1
    val pruned = prunes(spark, storeDirs)
    lastServeRoute = Some(sc.route(cell(local, pruned, batch = true)))
    (local, pruned) match {
      case (true, true) =>
        rankPrunedBatch(spark, storeDirs.head, queries, idCol, termsCol,
          k, sc)
      case (true, false) =>
        rankBatch(spark, storeDirs.head, queries, idCol, termsCol, k, sc)
      case (false, true) =>
        rankShardedPrunedBatch(spark, storeDirs, queries, idCol, termsCol,
          k, sc)
      case (false, false) =>
        rankShardedBatch(spark, storeDirs, queries, idCol, termsCol, k, sc)
    }
  }

  /** The front door's scorer argument: "bm25" or "lm", any case. */
  private def scorerOf(scorer: String, k1: Double, b: Double,
                       mu: Double): Scorer = {
    val sc = scorer.toLowerCase(java.util.Locale.ROOT)
    require(sc == "bm25" || sc == "lm",
      s"unknown scorer '$scorer' — expected bm25 or lm")
    if (sc == "bm25") Bm25(k1, b) else Lm(mu)
  }

  /** The BM25 verb name of a matrix cell, e.g. `topKShardedPruned`. */
  private def cell(local: Boolean, pruned: Boolean, batch: Boolean) =
    "topK" + (if (local) "" else "Sharded") +
      (if (pruned) "Pruned" else "") + (if (batch) "Batch" else "")

  /** SCATTER-GATHER BM25F — the two serve axes composed: each FIELD
    * is itself document-partitioned into N store shards (shard i
    * holds field stores for the same doc subset). Global statistics
    * per the scatter contract: n = Σ shard n, per-field avgdl from
    * Σ shard Σdl_f / n, and the ANY-FIELD df(w) = Σ per-shard
    * any-field df — exact because shards partition DOCS, so the
    * cross-shard distinct-doc union is a disjoint sum (the one
    * statistic the per-field sidecars cannot give even locally).
    * Per-shard reads keep the single-store prunes; the gather is
    * k-bounded. `shards(i)` must list the SAME (field, boost, b_f)
    * tuples in the same order — fields of one corpus, sharded
    * together; enforced loudly. Bit-identical to [[bm25fTopK]] over
    * per-field union stores. */
  def bm25fTopKSharded(spark: SparkSession,
                       shards: Seq[Seq[(String, String, Double, Double)]],
                       terms: Seq[String], k: Int,
                       k1: Double = 1.2): DataFrame = {
    require(shards.nonEmpty, "need at least one shard")
    require(terms.nonEmpty, "need at least one query term")
    val sig = shards.map(_.map { case (f, _, boost, bf) =>
      (f, boost, bf) })
    require(sig.distinct.size == 1,
      "every shard must carry the same (field, boost, b) list — " +
        "fields of one corpus, sharded together")
    import spark.implicits._
    val distinct = terms.distinct
    // per-shard per-field stats; global n and per-field global Σdl
    val shardStats = shards.map(_.map { case (f, dir, boost, bf) =>
      (f, dir, boost, bf, readStats(spark, dir))
    })
    shardStats.foreach { fs =>
      val ns = fs.map(_._5._1).distinct
      require(ns.size == 1,
        s"a shard's field stores must hold the same doc subset " +
          s"(n per field: ${fs.map(t => s"${t._1}=${t._5._1}")
            .mkString(", ")})")
    }
    val n = shardStats.map(_.head._5._1).sum
    val sdlByField: Map[String, Long] = shardStats.flatten
      .groupBy(_._1).map { case (f, rs) => f -> rs.map(_._5._2).sum }
    // per-(shard, field) probed reads with the GLOBAL normalization
    val perShardParts = shardStats.map { fs =>
      fs.flatMap { case (f, dir, boost, bf, (_, _, nbF)) =>
        val live = readTermFilter(spark, dir)
          .fold(distinct)(bits => presentTerms(spark, distinct, bits))
        if (live.isEmpty) None
        else {
          val buckets = bucketsOf(live, nbF)
          val avgdlF = round(
            lit(sdlByField(f)).cast("double") / lit(n), 6)
          Some(minusTombstones(spark, dir,
              readKnown(spark, dir)
                .filter(col("tb").isin(buckets: _*))
                .filter(col("w").isin(live: _*)))
            .select(col("doc_id"), col("w"),
              round(lit(boost) * col("tf") /
                (lit(1.0 - bf) + lit(bf) * col("dl") / avgdlF), 6)
                .cast("decimal(28,6)").as("wtfp")))
        }
      }
    }
    val liveShards = perShardParts.filter(_.nonEmpty)
      .map(_.reduce(_.unionByName(_)))
    if (liveShards.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").cast("double").as("score"))
    // GLOBAL any-field df: per-shard distinct-doc counts, disjoint sum
    val dfT = liveShards
      .map(_.groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("df")))
      .reduce(_.unionByName(_))
      .groupBy(col("w")).agg(sum(col("df")).as("df"))
    val bdf = broadcast(dfT)
    val perShard = liveShards.map { union =>
      union.groupBy(col("doc_id"), col("w"))
        .agg(sum(col("wtfp")).as("wtf"))
        .join(bdf, Seq("w"))
        .withColumn("idf", round(
          log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)),
          6))
        .withColumn("c", round(
          col("idf") * col("wtf").cast("double") /
            (lit(k1) + col("wtf").cast("double")), 6)
          .cast("decimal(28,6)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("c")).cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(k)
    }
    perShard.reduce(_.unionByName(_))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** SCATTER-GATHER faceted search — [[facetCounts]] across N
    * document-partitioned store shards: the conjunctive match set is
    * the disjoint union of per-shard match sets, so per-facet counts
    * SUM across shards — no global statistics exist to exchange at
    * all (facets are counts, not scores). `corpus` holds the facet
    * column for the whole corpus; each shard contributes only its own
    * matched docs. Bit-identical to [[facetCounts]] over the union
    * store. */
  def facetCountsSharded(spark: SparkSession, shardDirs: Seq[String],
                         terms: Seq[String], corpus: DataFrame,
                         idCol: String, facetCol: String): DataFrame = {
    require(shardDirs.nonEmpty, "need at least one shard")
    val perShard = shardDirs.map(d =>
      facetCounts(spark, d, terms, corpus, idCol, facetCol))
    perShard.reduce(_.unionByName(_))
      .groupBy(col("facet")).agg(sum(col("n_docs")).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet"))
  }

  /** Whether a BM25F field config satisfies the pruned verbs'
    * monotonicity preconditions (boost ≥ 0, 0 ≤ b_f ≤ 1, k1 > 0) —
    * the cap algebra's soundness domain. Out-of-range configs route
    * to the exact unpruned serve instead of tripping the pruned
    * verb's loud require (the unpruned scorer is well-defined for
    * them, so the front door must keep serving what [[bm25fTopK]]
    * always served). */
  private def bm25fMonotone(fields: Seq[(String, String, Double, Double)],
                            k1: Double): Boolean =
    k1 > 0 && fields.forall { case (_, _, boost, bf) =>
      boost >= 0 && bf >= 0 && bf <= 1 }

  /** [[serve]] for the MULTI-FIELD (BM25F) family: dispatches to the
    * block-max pruned serve when every field store carries a
    * `_blockmax` sidecar AND the config sits in the cap algebra's
    * monotone range, the plain serve otherwise — same rows either way
    * (the pruned verbs keep their own tombstone/heal delegations). */
  def serveFields(spark: SparkSession,
                  fields: Seq[(String, String, Double, Double)],
                  terms: Seq[String], k: Int,
                  k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    val pruned = bm25fMonotone(fields, k1) &&
      fields.forall { case (_, d, _, _) => hasBlockmax(spark, d) }
    lastServeRoute = Some(if (pruned) "bm25fTopKPruned" else "bm25fTopK")
    if (pruned) bm25fTopKPruned(spark, fields, terms, k, k1)
    else bm25fTopK(spark, fields, terms, k, k1)
  }

  /** [[serveFields]] for a whole query frame. */
  def serveFieldsBatch(spark: SparkSession,
                       fields: Seq[(String, String, Double, Double)],
                       queries: DataFrame, idCol: String,
                       termsCol: String, k: Int,
                       k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    val pruned = bm25fMonotone(fields, k1) &&
      fields.forall { case (_, d, _, _) => hasBlockmax(spark, d) }
    lastServeRoute = Some(
      if (pruned) "bm25fTopKPrunedBatch" else "bm25fTopKBatch")
    if (pruned)
      bm25fTopKPrunedBatch(spark, fields, queries, idCol, termsCol, k, k1)
    else bm25fTopKBatch(spark, fields, queries, idCol, termsCol, k, k1)
  }

  // ------------------------------------------------------------------
  // BLOCK-MAX dynamic pruning (Ding & Suel's block-max WAND / Lucene's
  // MaxScore, re-expressed for a file-blocked store). [[topK]] scores
  // EVERY matching posting in the probed buckets: correct,
  // partial-aggregated, bucket-bounded — but a COMMON term's match set
  // is corpus-proportional, so at 100 TB a ranked serve pays the full
  // posting list of a term that cannot crack the top-k. The classic
  // fix is per-block score upper bounds + skipping; here the "block"
  // is the data FILE (the store's native skip unit — the same
  // granularity the w-zone sidecar prunes on), and the serve is
  // two-phase: a cap-based candidate prune over the survivor files,
  // then an exact completion of the bounded candidate set against the
  // skipped files (page-pruned point lookups — postings are sorted by
  // (tb, w, doc_id), so a doc_id IN (…) residual skips pages inside a
  // term's run, the parquet analog of Lucene's skip pointers).
  //
  // The opt-in `_blockmax` sidecar holds one row per (file, w):
  // `(file, w, cnt, maxtf, mindl, sumtf)`. BM25's per-posting
  // contribution is increasing in tf and decreasing in dl, and
  // round(…, 6) is monotone, so the contribution expression evaluated
  // at (maxtf, mindl) upper-bounds every posting of w in the file
  // EXACTLY (same expressions, no float slop — all threshold
  // comparisons run in micros-scaled integer arithmetic). `cnt` sums
  // to the exact corpus df per term, so the pruned serve's df pass
  // opens ZERO data files (the unpruned serve's first full bucket
  // pass). Maintenance mirrors `_vocab`: [[buildBlockStats]] opts in,
  // appends extend it file-coverage-keyed (idempotent, crash-healing
  // by construction), [[compact]] rebuilds it into the rewrite, and
  // selective compaction's replaced files are dropped at read and
  // purged by the fold.
  //
  // EXACTNESS CONTRACT ([[topKPruned]] == [[topK]], row-for-row):
  //   - θ is the k-th best PARTIAL score over probe files (one file
  //     per term, the term's best cap). Partials are lower bounds, so
  //     θ ≤ the true k-th score s_k.
  //   - a file is skipped iff ∀w in it: cap(w,f) + Σ_{w'≠w} capG(w')
  //     < θ (strict). Any doc with ANY posting in a skipped file then
  //     has exact score < θ ≤ s_k — so every true top-k doc has ALL
  //     its postings in survivor files and surfaces as a COMPLETE
  //     candidate with its exact score. (This is stronger than
  //     classic per-posting WAND: the skip bound already carries the
  //     full rest-mass of the other terms, so no candidate ever needs
  //     a second look at a skipped file. Formally: a candidate unseen
  //     for term w has c(w,d) ≤ capOut(w) < θ − rest(w), hence
  //     ub(d) = partial + Σ_unseen capOut < θ for ANY number of
  //     unseen terms, because partial ≤ Σ_seen capG and θ ≤ Σ capG.)
  //   - candidates with an unseen skipped term are therefore dropped
  //     outright; the survivors' DECIMAL partial sums are
  //     order-independent, so scores are bit-identical to the
  //     one-pass serve.
  //   - pending tombstones make sidecar df stale-high (idf
  //     under-estimated → caps too LOW → over-pruning) — the SINGLE
  //     serves therefore subtract the tombstoned postings exactly
  //     ([[tombstoneTermAdjust]]'s page-pruned point lookup) and
  //     anti-join the tombstone set on every read, delegating only
  //     past the In-pushdown budget; the batched and sharded serves
  //     still delegate wholesale until the next compaction purges.

  private def blockmaxPath(dir: String) = s"$dir/_blockmax"

  /** Per-(file, w) block stats derived from a column-pruned leaf read
    * of exactly `relFiles` — the appendMulti cost model (per-batch,
    * never per-store). Works on either layout (positional files carry
    * the same (w, tf, dl) contract since the stats unification). Groups
    * on the raw file name and cuts it to the store-relative path once
    * per (file, w) group, not once per posting row. */
  private def deriveBlockRows(spark: SparkSession, dir: String,
                              relFiles: Seq[String]): DataFrame =
    readKnown(spark, relFiles.map(f => s"$dir/$f"): _*)
      .select(input_file_name().as("path"), col("w"), col("tf"), col("dl"))
      .groupBy(col("path"), col("w"))
      .agg(count(lit(1)).as("cnt"), max(col("tf")).as("maxtf"),
        min(col("dl")).as("mindl"), max(col("dl")).as("maxdl"),
        sum(col("tf")).cast("long").as("sumtf"))
      .select(regexp_extract(col("path"), "((?:[^/]+=[^/]*/)*[^/]+)$", 1)
          .as("file"), col("w"), col("cnt"), col("maxtf"), col("mindl"),
        col("maxdl"), col("sumtf"))

  /** Create (or exactly rebuild) the `_blockmax` sidecar over every
    * live data file. Opt-in, like [[buildVocab]]: once it exists,
    * appends/heals extend it from the new files alone. Lands
    * scaffold-then-swap (the shared sidecar crash discipline), then
    * memos the files it covered under the new sidecar state, so the
    * first append need not read the sidecar back to learn them. */
  def buildBlockStats(spark: SparkSession, storeDir: String): Unit = {
    val files = graft.sinks.SkippingStore
      .listDataFileRelPaths(spark, storeDir)
    require(files.nonEmpty, s"$storeDir holds no data files")
    val side = blockmaxPath(storeDir)
    graft.sinks.SidecarFold.restoreAside(spark, side)
    val stamp = java.lang.System.nanoTime()
    timed("blockmax_build") {
      deriveBlockRows(spark, storeDir, files)
        .coalesce(1).write.mode("overwrite").parquet(s"$side.fold-$stamp")
      graft.sinks.HadoopSwap.swapInto(spark, s"$side.fold-$stamp", side,
        s"$side.old-$stamp")
    }
    memoBlockCovered(spark, storeDir, side, files.toSet)
  }

  /** Covered-file-set memo for the `_blockmax` sidecar, keyed by the
    * sidecar's own listing signature ([[statsSnapshotMemo]]'s idiom):
    * every append re-checked coverage with a fixed-cost distinct+
    * collect job over the sidecar — with the memo only a sidecar
    * state this process hasn't seen pays the read. Stale-row names
    * (files a compaction replaced) are harmless in the set: `missing`
    * filters LIVE files, and replaced names never recur (part-file
    * UUIDs). Bounded like the stats memo. */
  private val blockCoveredMemo = new java.util.concurrent
    .ConcurrentHashMap[String, (String, Set[String])]()

  /** Memo `covered` for store `dir` under the current listing of
    * `side` — its `_blockmax`, or a scaffold about to be renamed into
    * place (a rename keeps the listing). */
  private def memoBlockCovered(spark: SparkSession, dir: String,
                               side: String, covered: Set[String]): Unit = {
    if (blockCoveredMemo.size > 64) blockCoveredMemo.clear()
    blockCoveredMemo.put(dir, (dirListingSig(spark, side), covered))
  }

  /** File-coverage-keyed extension — a no-op on stores that never
    * opted in. Only uncovered files are scanned, so the appended cost
    * stays the batch's; replays re-cover idempotently (rows are
    * unique per (file, w), and a lost extension is just uncovered
    * files again). Coverage is sound at FILE granularity because each
    * extension lands as one atomic parquet job: a crash loses a data
    * file's rows entirely (uncovered → healed here), never half of
    * them — partial per-file coverage is physically unreachable. The
    * fold drops rows of files a selective compaction replaced. */
  private[graft] def maybeExtendBlockStats(spark: SparkSession,
                                           dir: String): Unit = {
    import spark.implicits._
    val side = blockmaxPath(dir)
    graft.sinks.SidecarFold.restoreAside(spark, side)
    if (!graft.sinks.HadoopSwap.exists(spark, side)) return
    timed("blockmax_extend") {
      val live = graft.sinks.SkippingStore.listDataFileRelPaths(spark, dir)
      val sideSig = dirListingSig(spark, side)
      val covered = Option(blockCoveredMemo.get(dir)) match {
        case Some((sig, set)) if sig == sideSig => set
        case _ => readKnown(spark, side)
          .select(col("file")).distinct()
          .collect().map(_.getString(0)).toSet
      }
      val missing = live.filterNot(covered)
      if (missing.nonEmpty)
        deriveBlockRows(spark, dir, missing)
          .coalesce(1).write.mode("append").parquet(side)
      // the fold rewrite drops rows of replaced files through a
      // LEFT-SEMI join against the live list (never a literal In —
      // thousands of inlined file strings would bloat the plan at the
      // store sizes this sidecar targets) and dedupes by (file, w):
      // two serves racing the same heal can both land a coverage file,
      // and duplicate rows would double-count cnt/df at read time.
      // Duplicates are IDENTICAL rows (derived deterministically from
      // the same data file), so keeping one is exact.
      val liveDF = live.toDF("file")
      graft.sinks.SidecarFold.foldIfDecayed(spark, side,
        SidecarFoldThreshold)(
        _.join(broadcast(liveDF), Seq("file"), "left_semi")
          .dropDuplicates("file", "w"))
      // memo the post-write coverage under the post-write signature:
      // the extension covered `missing`, and a fold only drops rows
      // of non-live files, which `missing` never re-lists
      memoBlockCovered(spark, dir, side, covered ++ missing)
    }
    ()
  }

  /** Memo of the last live-data-file snapshot whose `_blockmax`
    * coverage this process verified, per store. Coverage is a
    * function of the DATA FILE set alone (the sidecar only grows or
    * folds coverage-preservingly; compactions REPLACE data files and
    * so change the listing), so an unchanged listing means the last
    * verification still holds and the serve can skip the sidecar
    * coverage read — on a warm store that removes one fixed-cost job
    * per serve per store. An external writer invalidates naturally:
    * its new files change the listing. */
  private val blockCoverageMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Serve-time coverage heal, TOLERANT of read-only mounts: a query
    * against a store whose sidecar lags its data files tries to
    * extend coverage (idempotent), but a failed WRITE — read-only
    * filesystem, permissions, a dying disk — must degrade the serve
    * to the unpruned path, not fail it. Returns false when coverage
    * could not be ensured; callers delegate to the exact unpruned
    * serve (an uncovered file's postings would be invisible to the
    * cap algebra — pruning without full coverage is unsound). */
  private def tryEnsureBlockCoverage(spark: SparkSession,
                                     dir: String): Boolean =
    try {
      // the memo holds the LISTING itself, not a 32-bit hash — a
      // hash collision between two distinct listings would skip the
      // coverage heal and prune with uncovered files (r15 advisory);
      // the joined string is file-list-sized, same as the listing
      val snap = graft.sinks.SkippingStore
        .listDataFileRelPaths(spark, dir).sorted.mkString("\n")
      if (snap == blockCoverageMemo.get(dir)) true
      else {
        maybeExtendBlockStats(spark, dir)
        blockCoverageMemo.put(dir, snap)
        true
      }
    }
    catch { case scala.util.control.NonFatal(_) => false }

  /** Pending-tombstone count above which the single-query pruned
    * serves delegate to their unpruned forms: the exact df/ctf
    * subtraction collects the tombstoned ids to push a `doc_id IN`
    * residual into the parquet point lookup (page skipping inside
    * each term's sorted run), so the id set must stay driver-sized.
    * Package-private so specs can drive the crossover. */
  @volatile private[graft] var tombstonePruneMaxIds: Long = 100000L

  /** Tombstone-id count up to which the point lookup inlines the ids
    * as an `In` literal (parquet page-level pushdown inside each
    * term's sorted run); past it — but still under the
    * [[tombstonePruneMaxIds]] delegation bound — the lookup switches
    * to a broadcast left-semi join: a 100k-literal In bloats the
    * Catalyst plan and far exceeds parquet's In-pushdown threshold,
    * so the "point lookup" would silently degrade to a full-bucket
    * scan carrying a huge predicate (r15 advisory). The semi-join
    * reads the same buckets with the same term filter, so the
    * adjustment stays bucket-bounded either way. */
  @volatile private[graft] var tombstoneInLiteralMaxIds: Int = 4096

  /** Exact per-term statistics subtraction for a store with PENDING
    * tombstones — what lets the pruned serves keep pruning through a
    * delete-to-compaction window instead of falling off a perf cliff:
    * sidecar df/ctf are stale-high by exactly the tombstoned docs'
    * postings, and those postings are a PAGE-PRUNED point lookup
    * (postings sort by (tb, w, doc_id), the ids push down as an In
    * residual — the parquet analog of Lucene's skip pointers), never
    * a full bucket read. Returns w -> (tombstoned df, tombstoned ctf)
    * for the live terms; absent keys mean no tombstoned postings. */
  private def tombstoneTermAdjust(spark: SparkSession, storeDir: String,
                                  live: Seq[String], nb: Int,
                                  ts: TombSnapshot)
      : Map[String, (Long, Long)] = {
    val buckets = bucketsOf(live, nb)
    val matching = readKnown(spark, storeDir)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("w").isin(live: _*))
    val doomedPosts = ts.ids match {
      case Some(ids) => matching.filter(col("doc_id").isin(ids: _*))
      case None => readTombstones(spark, storeDir).fold(matching.limit(0))(
        tb => matching.join(broadcast(tb.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"))
    }
    doomedPosts
      .groupBy(col("w"))
      .agg(count(lit(1)).as("tdf"), sum(col("tf")).cast("long").as("tctf"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Live-data-file count above which the SINGLE-query pruned serves
    * run the DISTRIBUTED batched cap algebra (a one-row query frame
    * through [[prunedServeBatch]]) instead of collecting
    * (files-with-term × terms) cap tuples on the driver. The default
    * keeps the driver state in the same order as Spark's own file
    * index for any store below it; million-file stores switch to the
    * distributed algebra automatically. Package-private so specs can
    * drive the crossover. */
  @volatile private[graft] var distributedCapsFileThreshold: Int = 65536

  /** Whether the last single-query pruned serve ran the distributed
    * cap algebra (the [[distributedCapsFileThreshold]] crossover) —
    * spec instrumentation, never feeds an answer. */
  @volatile private[graft] var lastPruneDistributed: Boolean = false

  /** Instrumentation for the last [[topKPruned]] call — the ledger
    * specs and oracle rows use to prove files were actually skipped
    * (the [[phaseSeconds]] precedent). Never feeds an answer. */
  final case class PruneStats(relevantFiles: Int, survivors: Int,
                              skipped: Int, thetaMicros: Option[Long],
                              delegated: Boolean)
  @volatile private[graft] var lastPruneStats: Option[PruneStats] = None

  /** One sidecar block row: per-(file, w) posting count, tf/dl
    * extremes, and summed tf. `cnt` sums to exact df, `sumtf` to
    * exact ctf (tombstone-free store). */
  private[graft] final case class BlockRow(file: String, w: String,
    cnt: Long, maxtf: Long, mindl: Long, maxdl: Long, sumtf: Long)

  /** Read each store's sidecar rows for its `live` terms — every
    * store in ONE collected read — drop rows of files a selective
    * compaction replaced, and dedupe by (file, w) on the driver: racing
    * serve-time heals can land duplicate coverage rows between folds,
    * and summing cnt over duplicates would inflate df. A store with no live term
    * reads nothing and gets no rows. Coverage must already be ensured
    * by the caller ([[tryEnsureBlockCoverage]]). */
  private def readBlockRows(spark: SparkSession,
                            stores: Seq[(String, Seq[String])])
      : Seq[Seq[BlockRow]] = {
    val asked = stores.zipWithIndex.filter(_._1._2.nonEmpty)
    if (asked.isEmpty) return stores.map(_ => Seq.empty)
    val liveFiles = asked.map { case ((storeDir, _), i) =>
      // crash-aside heal stays on the read path (job-free FS rename):
      // the coverage memo can skip [[maybeExtendBlockStats]], but a
      // fold that died mid-swap must still never read as missing
      graft.sinks.SidecarFold.restoreAside(spark, blockmaxPath(storeDir))
      require(graft.sinks.HadoopSwap.exists(spark, blockmaxPath(storeDir)),
        s"$storeDir has no _blockmax sidecar — buildBlockStats() creates " +
          "it (appends maintain it from then on); unpruned serves work " +
          "without one")
      i -> graft.sinks.SkippingStore.listDataFileRelPaths(spark, storeDir)
        .toSet
    }.toMap
    val rows = graft.sinks.SidecarFold.withReadRetry() {
      asked.map { case ((storeDir, live), i) =>
        readKnown(spark, blockmaxPath(storeDir))
          .filter(col("w").isin(live: _*))
          .select(lit(i).as("_shard"), col("file"), col("w"), col("cnt"),
            col("maxtf"), col("mindl"), col("maxdl"), col("sumtf"))
      }.reduce(_.unionByName(_)).collect()
    }.map(r => r.getInt(0) -> BlockRow(r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .filter { case (i, t) => liveFiles(i)(t.file) }
      .distinctBy { case (i, t) => (i, t.file, t.w) }.groupBy(_._1)
    stores.indices.map(i =>
      rows.get(i).fold(Seq.empty[BlockRow])(_.map(_._2).toSeq))
  }

  /** A DECIMAL(28,6) contribution as exact micros. */
  private def micros(d: java.math.BigDecimal): Long =
    d.movePointRight(6).longValueExact()

  /** Each store's per-(file, w) caps — the contribution at (maxtf,
    * mindl), an upper bound for any scorer increasing in tf and
    * decreasing in dl — and the floor adjustment `Σ_w min(0, floor(w))`,
    * the floor being the contribution at (1, the max maxdl of w over
    * EVERY store). All in ONE tiny frame: floor rows ride with store -1
    * and a null file, and each row carries its term's statistic `stat`,
    * so [[Scorer.contribution]] — the tree the serve scores postings
    * with — is per-row arithmetic over driver-held values, which
    * Catalyst folds into a local relation: no job runs. Caps come back
    * as (file, w, micros) per store. */
  private def capsAndFloor(spark: SparkSession, bss: Seq[Seq[BlockRow]],
                           sc: Scorer, stat: Map[String, Long], n: Long,
                           sdl: Long)
      : (Seq[Seq[(String, String, Long)]], Long) = {
    import spark.implicits._
    val rows = sc.contribution((bss.zipWithIndex.flatMap { case (bs, i) =>
          bs.map(r => (i, r.file, r.w, r.maxtf, r.mindl, stat(r.w))) } ++
        bss.flatten.groupBy(_.w).map { case (w, rs) =>
          (-1, (null: String), w, 1L, rs.map(_.maxdl).max, stat(w)) })
        .toDF("_shard", "file", "w", "tf", "dl", sc.stat), n, sdl)
      .select(col("_shard"), col("file"), col("w"), col("c")).collect()
    val negAdjust = rows.filter(_.getInt(0) < 0)
      .map(r => math.min(0L, micros(r.getDecimal(3)))).sum
    val caps = rows.filter(_.getInt(0) >= 0).groupBy(_.getInt(0))
    (bss.indices.map(i => caps.getOrElse(i, Array.empty[Row]).toSeq
      .map(r => (r.getString(1), r.getString(2), micros(r.getDecimal(3))))),
      negAdjust)
  }

  /** The θ probe's files: each term's best-cap file (ties by file name
    * for determinism). */
  private def probeFilesOf(caps: Seq[(String, String, Long)]): Seq[String] =
    caps.groupBy(_._2).values.map(_.maxBy(t => (t._3, t._1))._1)
      .toSeq.distinct.sorted

  /** One store's survivor rule under θ. `outTerms`: terms with postings
    * left in a skipped file — a candidate UNSEEN for one of these is
    * provably sub-θ whether the doc lacks the term or its posting hides
    * in a skipped file, so it drops without a second look (never a
    * skipped-file read). */
  private final case class Pruned(relevant: Seq[String],
    survivors: Seq[String], skipped: Int, outTerms: Seq[String])

  /** Strict skip: keep f iff ∃w in f: max(cap(w,f),0) + restPlus(w) ≥ θ,
    * restPlus(w) being the other terms' summed plus-truncated caps. */
  private def pruneFiles(caps: Seq[(String, String, Long)],
                         theta: Option[Long]): Pruned = {
    val capPlus: Map[String, Long] = caps.groupBy(_._2)
      .map { case (w, rs) => w -> math.max(rs.map(_._3).max, 0L) }
    val totalPlus = capPlus.values.sum
    val relevant = caps.map(_._1).distinct
    val survivors = theta.fold(relevant)(t => relevant.filter(f =>
      caps.exists(c => c._1 == f &&
        math.max(c._3, 0L) + totalPlus - capPlus(c._2) >= t))).sorted
    val skipped = relevant.filterNot(survivors.toSet)
    Pruned(relevant, survivors, skipped.size,
      caps.filter(c => skipped.contains(c._1)).map(_._2).distinct)
  }

  /** The exact top-k of scored survivor postings tagged `_shard`:
    * candidates group per (store, doc), and a candidate missing one of
    * its store's `outTerms` drops ([[pruneFiles]]). */
  private def completeTopK(scored: DataFrame, outTerms: Seq[Seq[String]],
                           k: Int): DataFrame = {
    val out = outTerms.zipWithIndex.filter(_._1.nonEmpty)
    val grouped = scored.groupBy(col("_shard"), col("doc_id"))
    val complete =
      if (out.isEmpty) // nothing skipped can hide a posting
        grouped.agg(count(lit(1)).as("n_terms"), sum(col("c")).as("s"))
      else grouped.agg(count(lit(1)).as("n_terms"), sum(col("c")).as("s"),
          collect_set(col("w")).as("ws"))
        .filter(out.map { case (ts, i) => col("_shard") =!= i ||
          size(array_except(typedLit(ts), col("ws"))) === 0 }.reduce(_ && _))
    complete
      .select(col("doc_id"), col("n_terms"),
        col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** The generic block-max pruned serve: given the sidecar rows and
    * the serve's OWN per-posting contribution expression (`scoreOf`
    * adds a DECIMAL(28,6) `c` over (w, tf, dl) — the identical tree
    * the unpruned serve scores with), run the cap/θ/survivor algebra
    * and return the exact top-k frame.
    *
    * FLOORS ([[capsAndFloor]]) contribute `Σ min(0, floor)` to θ: for
    * a scorer with negative contributions (Dirichlet LM's length norm)
    * a doc's exact score can sit BELOW its probe partial, so the k-th
    * partial alone would over-prune; the floor adjustment restores
    * `θ ≤ s_k`. For BM25 (contributions ≥ 0) the floors clamp to zero
    * and the adjustment vanishes. The skip rule uses PLUS-truncated
    * caps (`max(cap, 0)`), which keeps the incomplete-candidate drop
    * safe for negative caps: whether a candidate's unseen term is
    * absent from the doc or hiding in a skipped file, its exact score
    * is provably < θ. All comparisons in micros-scaled integer math.
    *
    * `filterPost`: applied to every data-file read (probe and
    * survivor scans) BEFORE scoring — the tombstone-aware serves pass
    * the anti-join so pending deletes never reach θ or a score. */
  private def prunedServe(spark: SparkSession, storeDir: String,
                          live: Seq[String], k: Int, bs: Seq[BlockRow],
                          sc: Scorer, stat: Map[String, Long], n: Long,
                          sdl: Long,
                          filterPost: DataFrame => DataFrame = identity)
      : DataFrame = {
    import spark.implicits._
    val (Seq(caps), negAdjust) = capsAndFloor(spark, Seq(bs), sc, stat, n, sdl)
    // the unpruned serve's scoring expressions — caps evaluate the SAME
    // tree at (maxtf, mindl), so monotone-rounded bounds and served
    // contributions can never disagree on rounding
    val scoreOf = sc.score(broadcast(stat.toSeq.toDF("w", sc.stat)), n, sdl) _
    def scan(files: Seq[String]) = scoreOf(filterPost(
      readKnownUnder(spark, storeDir, files).filter(col("w").isin(live: _*))))
    // θ probe: probe partials plus the floor adjustment lower-bound
    // the k-th exact score — fewer than k docs means no pruning
    val thetaRows = scan(probeFilesOf(caps))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .select(col("s")).collect()
    val theta = if (thetaRows.length < k) None
      else Some(micros(thetaRows.last.getDecimal(0)) + negAdjust)
    val p = pruneFiles(caps, theta)
    lastPruneStats = Some(PruneStats(p.relevant.size, p.survivors.size,
      p.skipped, theta, delegated = false))
    completeTopK(scan(p.survivors).withColumn("_shard", lit(0)),
      Seq(p.outTerms), k)
  }

  /** Block-max-pruned store-served BM25 — row-for-row identical to
    * [[topK]] (see the section contract), in ONE pass over the
    * SURVIVOR files instead of two passes over every probed bucket:
    * df comes from the sidecar (zero data files), the θ probe reads
    * one file per term, and the final plan scans survivor files only
    * (candidates touching any skipped file are provably sub-θ and
    * drop without a second look). Stores must opt in with
    * [[buildBlockStats]].
    *
    * PENDING TOMBSTONES no longer delegate: sidecar df is stale-high
    * by exactly the tombstoned docs' postings, and those are a
    * page-pruned point lookup ([[tombstoneTermAdjust]]) — so the
    * serve subtracts them for the EXACT post-delete df, anti-joins
    * the tombstone set on the probe and survivor reads, and prunes as
    * usual (sidecar maxtf/mindl extremes over the superset corpus are
    * still upper bounds — caps can only loosen, never under-estimate,
    * until compaction re-tightens them). Only a tombstone set larger
    * than [[tombstonePruneMaxIds]] (the In-pushdown budget) delegates
    * to [[topK]]. */
  def topKPruned(spark: SparkSession, storeDir: String,
                 terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankPruned(spark, storeDir, terms, k, Bm25(k1, b))

  /** [[topKPruned]] / [[lmTopKPruned]]. */
  private def rankPruned(spark: SparkSession, storeDir: String,
                         terms: Seq[String], k: Int,
                         sc: Scorer): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, "need at least one result slot")
    import spark.implicits._
    lastPruneStats = None
    lastPruneDistributed = false
    // the cap algebra is sound only where the scorer is monotone
    // (BM25: k1 > 0, 0 ≤ b ≤ 1): caps at (maxtf, mindl) stop
    // upper-bounding outside it, so out-of-range params — reachable via
    // serve() from the expansion verbs, which forward caller k1/b —
    // delegate to the exact unpruned serve instead of silently
    // over-pruning
    if (!sc.monotone) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rank(spark, storeDir, terms, k, sc)
    }
    val ts = tombSnapshot(spark, storeDir)
    if (ts.n > tombstonePruneMaxIds) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rank(spark, storeDir, terms, k, sc)
    }
    val (n, sdl, nb) = readStats(spark, storeDir)
    val live = readTermFilter(spark, storeDir)
      .fold(terms)(bits => presentTerms(spark, terms, bits))
    if (live.isEmpty) return emptyTopK(spark, storeDir)
    // a many-file store runs the DISTRIBUTED cap algebra (the batched
    // serve with a one-row frame): driver-held state stays file-LIST-
    // sized, never files×terms cap tuples. (Under pending tombstones
    // the batched path delegates to the exact unpruned batch — the
    // combination of a million-file store AND pending deletes is a
    // compact-first situation either way.)
    if (graft.sinks.SkippingStore.listDataFileRelPaths(spark, storeDir)
          .size > distributedCapsFileThreshold) {
      lastPruneDistributed = true
      return rankPrunedBatch(spark, storeDir,
          Seq((0L, live)).toDF("query_id", "terms"), "query_id",
          "terms", k, sc)
        .select(col("doc_id"), col("n_terms"), col("score"))
    }
    if (!tryEnsureBlockCoverage(spark, storeDir)) {
      // read-only mount / failed heal write: pruning without full
      // file coverage is unsound — serve exactly, unpruned
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rank(spark, storeDir, terms, k, sc)
    }
    val Seq(bs) = readBlockRows(spark, Seq(storeDir -> live))
    if (bs.isEmpty) return emptyTopK(spark, storeDir)
    // exact corpus statistic per term: the sidecar sum (zero data
    // files), minus the tombstoned postings when deletes are pending
    val tadj: Map[String, (Long, Long)] =
      if (ts.n > 0L) tombstoneTermAdjust(spark, storeDir, live, nb, ts)
      else Map.empty
    val stat = bs.groupBy(_.w).map { case (w, rs) =>
      w -> sc.prunedStat(rs.map(sc.sidecarStat).sum -
        tadj.get(w).fold(0L)(sc.tombstoneStat)) }
    prunedServe(spark, storeDir, live, k, bs, sc, stat, n, sdl,
      filterPost = p => maskTombstones(spark, storeDir, ts, p))
  }

  /** Block-max-pruned Dirichlet LM ranking — row-for-row identical to
    * [[lmTopK]]. Collection term frequency comes from the sidecar's
    * summed tf (zero data files; pending tombstones subtract their
    * page-pruned point-lookup ctf exactly like [[topKPruned]]'s df);
    * the LM length norm makes contributions NEGATIVE for long docs,
    * which is exactly what [[prunedServe]]'s floor adjustment and
    * plus-truncated caps exist for — and a stale-high sidecar maxdl
    * only deepens the floor, which is the safe direction. */
  def lmTopKPruned(spark: SparkSession, storeDir: String,
                   terms: Seq[String], k: Int,
                   mu: Double = 2000.0): DataFrame =
    rankPruned(spark, storeDir, terms, k, Lm(mu))

  /** The batched prune prologue shared by the ranked batch serves:
    * explode + Bloom-drop the query frame, heal sidecar coverage,
    * and read the union terms' block rows. Left(empty frame) when no
    * live (query, term) pair survives. */
  private def prunedBatchFrames(spark: SparkSession, storeDir: String,
                                queries: DataFrame, idCol: String,
                                termsCol: String)
      : Either[DataFrame, (DataFrame, DataFrame)] = {
    import spark.implicits._
    val exploded = queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
    val (qt, nonEmpty) = checkpointWithNonEmpty(
      dropAbsentTermRows(spark, storeDir, exploded)
        .repartition(spark.sessionState.conf.numShufflePartitions))
    if (!nonEmpty)
      return Left(emptyTopKBatch(spark))
    require(graft.sinks.HadoopSwap.exists(spark, blockmaxPath(storeDir)),
      s"$storeDir has no _blockmax sidecar — buildBlockStats() creates " +
        "it; the unpruned batch serves work without one")
    val liveFiles = graft.sinks.SkippingStore
      .listDataFileRelPaths(spark, storeDir)
    val termsF = qt.select(col("w")).distinct()
    graft.sinks.SidecarFold.restoreAside(spark, blockmaxPath(storeDir))
    // dedupe by (file, w): racing serve-time heals can land duplicate
    // coverage rows between folds, and Σcnt over them would inflate df
    val bsDF = graft.sinks.SidecarFold.withReadRetry() {
      readKnown(spark, blockmaxPath(storeDir))
        .join(broadcast(termsF), Seq("w"))
        .join(broadcast(liveFiles.toDF("file")), Seq("file"), "left_semi")
        .dropDuplicates("file", "w")
        .localCheckpoint()
    }
    Right((qt, bsDF))
  }

  /** BATCHED block-max-pruned BM25 — [[topKPruned]] for a whole query
    * FRAME, per-query rows bit-identical to [[topKBatch]] (hence to
    * [[topK]]). The prune algebra runs DISTRIBUTED over the sidecar
    * frame (per-query θ via a window rank over the shared probe read,
    * per-(query, term) rest-mass via a query-partitioned window, the
    * survivor union via one caps×queries join), so the only
    * driver-held sets remain file lists and bucket ids — never
    * queries or postings. Every file the UNION of queries needs is
    * read once; a file skipped by EVERY query is never opened, and a
    * candidate unseen for a term whose postings hide outside the
    * union is provably sub-θ for its query (the single-serve theorem,
    * applied per query against the union's complement). Pending
    * tombstones delegate to [[topKBatch]]. */
  def topKPrunedBatch(spark: SparkSession, storeDir: String,
                      queries: DataFrame, idCol: String, termsCol: String,
                      k: Int, k1: Double = 1.2,
                      b: Double = 0.75): DataFrame =
    rankPrunedBatch(spark, storeDir, queries, idCol, termsCol, k,
      Bm25(k1, b))

  /** [[topKPrunedBatch]] / [[lmTopKPrunedBatch]]. */
  private def rankPrunedBatch(spark: SparkSession, storeDir: String,
                              queries: DataFrame, idCol: String,
                              termsCol: String, k: Int,
                              sc: Scorer): DataFrame = {
    require(k >= 1, "need at least one result slot")
    lastPruneStats = None
    // out-of-monotone-range params delegate — see [[rankPruned]]
    if (!sc.monotone || tombstoneCount(spark, storeDir) > 0L ||
        !tryEnsureBlockCoverage(spark, storeDir)) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return rankBatch(spark, storeDir, queries, idCol, termsCol, k, sc)
    }
    val (n, sdl, _) = readStats(spark, storeDir)
    val (qt, bsDF) =
      prunedBatchFrames(spark, storeDir, queries, idCol, termsCol) match {
        case Left(empty) => return empty
        case Right(t) => t
      }
    val statFrame = broadcast(
      bsDF.groupBy(col("w")).agg(sum(col(sc.sidecarCol)).as(sc.stat)))
    prunedServeBatch(spark, storeDir, qt, k, bsDF,
      sc.score(statFrame, n, sdl))
  }

  /** Block-max-pruned BATCHED Dirichlet LM — [[lmTopKBatch]]'s rows
    * through the distributed prune algebra: ctf from the sidecar's
    * summed tf (zero data files), per-query floors for the negative
    * length norm, shared probe read, survivor-union scan. Pending
    * tombstones delegate. */
  def lmTopKPrunedBatch(spark: SparkSession, storeDir: String,
                        queries: DataFrame, idCol: String,
                        termsCol: String, k: Int,
                        mu: Double = 2000.0): DataFrame =
    rankPrunedBatch(spark, storeDir, queries, idCol, termsCol, k, Lm(mu))

  /** The distributed batched prune core (see [[topKPrunedBatch]]'s
    * doc for the plan shape and [[prunedServe]]'s for the bound
    * algebra, floors included). `sharedThetaQ`: an EXTERNALLY-derived
    * per-query threshold frame `(query_id, theta)` (micros, floors
    * already applied) that replaces the local probe —
    * [[topKShardedPrunedBatch]] passes the cross-shard global θ,
    * which dominates any shard-local probe. The caller owns its
    * validity for the scorer. */
  private def prunedServeBatch(spark: SparkSession, storeDir: String,
                               qt: DataFrame, k: Int, bsDF: DataFrame,
                               scoreOf: DataFrame => DataFrame,
                               sharedThetaQ: Option[DataFrame] = None)
      : DataFrame = {
    import spark.implicits._
    val termsF = qt.select(col("w")).distinct()
    val cm = (col("c") * 1000000L).cast("long")
    val capsDF = scoreOf(bsDF.select(col("file"), col("w"),
        col("maxtf").as("tf"), col("mindl").as("dl")))
      .select(col("file"), col("w"), cm.as("cap"))
      .localCheckpoint() // tiny: files×union-terms rows
    val capPlusG = capsDF.groupBy(col("w"))
      .agg(greatest(max(col("cap")), lit(0L)).as("cap_plus"))
    // per-(query, term) rest-mass + per-query floor adjustment
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val qrest = qt.join(broadcast(capPlusG), Seq("w"))
      .withColumn("rest_plus",
        sum(col("cap_plus")).over(wq) - col("cap_plus"))
    val thetaQ = sharedThetaQ.getOrElse {
      val floors = scoreOf(bsDF.groupBy(col("w"))
          .agg(max(col("maxdl")).as("dl")).withColumn("tf", lit(1L)))
        .select(col("w"), least(cm, lit(0L)).as("floor"))
      val negAdj = qt.join(broadcast(floors), Seq("w"))
        .groupBy(col("query_id")).agg(sum(col("floor")).as("neg_adj"))
      // probe: every term's best-cap file, one shared read
      val wprobe = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w")).orderBy(col("cap").desc, col("file"))
      val probeFiles = capsDF
        .withColumn("_r", row_number().over(wprobe))
        .filter(col("_r") === 1)
        .select(col("file")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val wrank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("doc_id"))
      scoreOf(
          readKnownUnder(spark, storeDir, probeFiles)
            .join(broadcast(termsF), Seq("w")))
        .join(qt.select(col("query_id"), col("w")), Seq("w"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg((sum(col("c")) * 1000000L).cast("long").as("s"))
        .withColumn("_r", row_number().over(wrank))
        .filter(col("_r") === k)
        .join(negAdj, Seq("query_id"))
        .select(col("query_id"), (col("s") + col("neg_adj")).as("theta"))
    }
    // survivor union: a file lives iff SOME query's bound reaches its θ
    // (a query with no θ row — fewer than k probe docs — keeps all)
    val survivors = capsDF
      .join(qrest.select(col("query_id"), col("w"), col("rest_plus")),
        Seq("w"))
      .join(thetaQ, Seq("query_id"), "left")
      .filter(col("theta").isNull ||
        greatest(col("cap"), lit(0L)) + col("rest_plus") >= col("theta"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val relevant = capsDF.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    val skipped = relevant.filterNot(survivors.toSet).sorted
    lastPruneStats = Some(PruneStats(relevant.size, survivors.size,
      skipped.size, None, delegated = false))
    if (survivors.isEmpty) // every query provably sub-θ everywhere
      return emptyTopKBatch(spark)
    // per-query unseen-mass terms: postings left OUTSIDE the union
    val outArr =
      if (skipped.isEmpty) null
      else capsDF.filter(col("file").isInCollection(skipped))
        .select(col("w")).distinct()
        .join(qt.select(col("query_id"), col("w")), Seq("w"))
        .groupBy(col("query_id")).agg(collect_set(col("w")).as("outs"))
    val contrib = scoreOf(
        readKnownUnder(spark, storeDir, survivors)
          .join(broadcast(termsF), Seq("w")))
      .select(col("w"), col("doc_id"), col("c"))
    val scored0 = contrib
      .join(qt.select(col("query_id"), col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"),
        collect_set(col("w")).as("ws"))
    val scored =
      if (outArr == null) scored0
      else scored0.join(outArr, Seq("query_id"), "left")
        .filter(col("outs").isNull ||
          size(array_except(col("outs"), col("ws"))) === 0)
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  // ------------------------------------------------------------------
  // BLOCK-MAX pruning for the MULTI-FIELD serve (BM25F). The single-
  // field algebra does not transfer verbatim: BM25F saturates the SUM
  // of per-field length-normalized tfs
  //   c(t,d) = round(idf(t) · wtf/(k1 + wtf), 6),
  //   wtf(t,d) = Σ_f round(boost_f·tf/(1−b_f+b_f·dl_f/avgdl_f), 6)
  // so a per-(field, file) cap bounds only ONE summand of wtf, and a
  // doc straddling a skipped file of field f and survivor files of
  // field f' is NOT observable as "unseen for t" the way a single-
  // store candidate is. Three consequences shape [[bm25fTopKPruned]]:
  //
  //   1. CAPS fold across fields. For a file F of field f holding t:
  //      capWtf(t,F) = capWtfp(t,f,F) + Σ_{f'≠f} capWtfpG(t,f'),
  //      where capWtfp evaluates the field's own wtfp expression at
  //      (maxtf, mindl) — monotone (boost ≥ 0, 0 ≤ b_f ≤ 1, dl ≥ 1),
  //      so it bounds every posting of t-in-F; the other fields ride
  //      their global per-field maxima. cap(t,F) then evaluates the
  //      SHARED-saturation contribution at capWtf with the EXACT
  //      any-field df — computed FIRST by the cheap column-pruned
  //      (doc_id, w) pass (it is not derivable from per-field
  //      sidecars: a doc may carry t in several fields, and per-field
  //      cnt sums over-count the overlap; df BOUNDS from sidecar sums
  //      were measured too loose to skip anything on dense stores, so
  //      exact-df-first is the design, not an optimization).
  //   2. θ comes from probe partials scored with the SAME exact
  //      any-field idf — partial wtf ≤ true wtf and the contribution
  //      is increasing in wtf at fixed idf, so every probe partial
  //      lower-bounds the doc's true score and the k-th partial
  //      lower-bounds s_k.
  //   3. STRADDLERS drop by ORDER, not by detection. Skip rule: F is
  //      skipped iff ∀t in F: cap(t,F) + Σ_{t'≠t} capG(t') < θ
  //      (strict). Any doc with ANY posting in a skipped file then
  //      has TRUE score < θ ≤ s_k; its survivor-computed score only
  //      under-counts (missing wtf mass, monotone down), so computed
  //      < θ too, while every true top-k doc is fully inside the
  //      survivors (claim 1 applied contrapositively) and scores
  //      EXACTLY. Sorting (score desc, doc_id) therefore yields the
  //      true top-k rows bit-identically — no candidate filter is
  //      needed, and none would be sound to base on observability.
  //
  // The one pass pruning cannot remove: the ANY-FIELD df must be
  // exact for the surfaced scores (idf is not reconstructible from
  // bounds), and a doc may carry t in several fields — so the serve
  // keeps the unpruned serve's column-pruned (doc_id, w) df pass over
  // the terms' buckets (the CHEAP pass: two columns, no decimal
  // math). What pruning removes is the EXPENSIVE pass — the wide
  // (doc_id, w, tf, dl) scoring read shrinks to survivor files only,
  // which at 100 TB is where a title+body deployment actually pays.

  /** Block-max-pruned BM25F — row-for-row identical to [[bm25fTopK]]
    * (see the section contract above). Every field store must carry a
    * `_blockmax` sidecar and be tombstone-free; otherwise the serve
    * delegates to the exact unpruned [[bm25fTopK]] (the mixed-fleet /
    * pending-tombstone discipline of [[topKShardedPruned]]).
    * Monotonicity preconditions for the cap algebra: `boost ≥ 0`,
    * `0 ≤ b_f ≤ 1`, `k1 > 0` — refused loudly, since a violated bound
    * would prune unsoundly rather than answer wrong-but-visibly. */
  def bm25fTopKPruned(spark: SparkSession,
                      fields: Seq[(String, String, Double, Double)],
                      terms: Seq[String], k: Int,
                      k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, "need at least one result slot")
    require(k1 > 0, "k1 must be positive (saturation monotonicity)")
    require(fields.forall { case (_, _, boost, bf) =>
        boost >= 0 && bf >= 0 && bf <= 1 },
      "caps are upper bounds only for boost >= 0 and 0 <= b_f <= 1")
    import spark.implicits._
    lastPruneStats = None
    def delegate(): DataFrame = {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      bm25fTopK(spark, fields, terms, k, k1)
    }
    if (fields.exists { case (_, d, _, _) =>
          tombstoneCount(spark, d) > 0L } ||
        fields.exists { case (_, d, _, _) =>
          !graft.sinks.HadoopSwap.exists(spark, blockmaxPath(d)) } ||
        fields.exists { case (_, d, _, _) =>
          !tryEnsureBlockCoverage(spark, d) })
      return delegate()
    val distinct = terms.distinct
    val stats = fields.map { case (f, dir, _, _) =>
      f -> readStats(spark, dir)
    }
    val ns = stats.map(_._2._1).distinct
    require(ns.size == 1,
      s"field stores must hold the same corpus (n per field: " +
        s"${stats.map { case (f, (nf, _, _)) => s"$f=$nf" }.mkString(", ")})")
    val n = ns.head
    // per-field live terms + sidecar rows in one read (zero data files
    // so far)
    val lives = fields.map { case (_, dir, _, _) => readTermFilter(spark, dir)
      .fold(distinct)(bits => presentTerms(spark, distinct, bits)) }
    val bss = readBlockRows(spark, fields.map(_._2).zip(lives))
    val fr = fields.zip(stats).zip(lives.zip(bss)).map {
      case (((f, dir, boost, bf), (_, (_, sdlF, nbF))), (live, bs)) =>
        (f, dir, boost, bf, sdlF, nbF, live, bs)
    }
    if (fr.forall(_._8.isEmpty))
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").cast("double").as("score"))
    // the field's own wtfp expression — caps evaluate the SAME tree at
    // (maxtf, mindl), so bounds and served parts can never disagree on
    // rounding
    def wtfp(boost: Double, bf: Double, sdlF: Long) =
      round(lit(boost) * col("tf") /
          (lit(1.0 - bf) + lit(bf) * col("dl") /
            round(lit(sdlF).cast("double") / lit(n), 6)), 6)
        .cast("decimal(28,6)")
    // per-(field, file, w) wtfp caps, in-plan over tiny frames —
    // UNIONED into one collect (each in-plan action costs a fixed
    // ~0.2 s locally; the pruned serve's local floor is job-count-
    // bound, so tiny frames share jobs wherever the algebra allows)
    val wtfpCaps: Seq[(String, String, String, Long)] =
      fr.collect { case (f, _, boost, bf, sdlF, _, _, bs)
          if bs.nonEmpty =>
        bs.map(r => (r.file, r.w, r.maxtf, r.mindl))
          .toDF("file", "w", "tf", "dl")
          .select(lit(f).as("field"), col("file"), col("w"),
            wtfp(boost, bf, sdlF).as("c"))
      }.reduce(_.unionByName(_)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          micros(r.getDecimal(3)))).toSeq
    // per-(w, field) global wtfp maxima and per-w cross-field totals
    val capWtfpG: Map[(String, String), Long] =
      wtfpCaps.groupBy(t => (t._3, t._1))
        .map { case (key, rs) => key -> rs.map(_._4).max }
    val capWtfTotal: Map[String, Long] = capWtfpG.groupBy(_._1._1)
      .map { case (w, m) => w -> m.values.sum }
    // exact ANY-FIELD df — the column-pruned (doc_id, w) pass over the
    // terms' buckets (see the section note: not derivable from
    // per-field sidecars — a doc may carry the term in several
    // fields, and per-field cnt sums over-count the overlap).
    // Computed FIRST because the final scores need it regardless, and
    // exact idf makes every cap/θ bound as tight as the single-field
    // algebra (df bounds from sidecar sums were measured too loose to
    // skip anything once a term lives in both fields of dense docs).
    // Collected terms-sized, so the FINAL plan reads survivors only.
    val dfParts = fr.collect {
      case (_, dir, _, _, _, nbF, live, _) if live.nonEmpty =>
        val buckets = bucketsOf(live, nbF)
        readKnown(spark, dir)
          .filter(col("tb").isin(buckets: _*))
          .filter(col("w").isin(live: _*))
          .select(col("doc_id"), col("w"))
    }
    val dfExact: Map[String, Long] = dfParts.reduce(_.unionByName(_))
      .groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the shared-saturation contribution tree over (df, wtf-micros).
    // wtf reconstructs as double(micros)/1e6: long→double is exact
    // (< 2^53) and IEEE division is correctly rounded, so this is the
    // nearest double of the exact 6-dp value — the same double
    // DECIMAL(28,6).cast("double") yields — and nearest-rounding is
    // monotone, so bound ordering survives the reconstruction.
    def contribOf(rows: DataFrame): DataFrame =
      rows
        .withColumn("idf", round(
          log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)),
          6))
        .withColumn("wtfd", col("wtf").cast("double") / lit(1e6))
        .withColumn("c", round(
          col("idf") * col("wtfd") / (lit(k1) + col("wtfd")), 6)
          .cast("decimal(28,6)"))
    // cap(t, F@f): field f's part from F's own cap, other fields from
    // their global maxima — the bound for any doc touching F
    val fileCaps: Seq[(String, String, String, Long)] = {
      val in = wtfpCaps.map { case (f, file, w, cwf) =>
        (f, file, w, dfExact(w),
          cwf + (capWtfTotal(w) - capWtfpG((w, f))))
      }.toDF("f", "file", "w", "df", "wtf")
      contribOf(in).select(col("f"), col("file"), col("w"), col("c"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          micros(r.getDecimal(3)))).toSeq
    }
    // capG(w) = max_F cap(w, F): the argmax file of the max field has
    // cwf = capWtfpG, so its folded wtf IS capWtfTotal — no separate
    // in-plan evaluation needed (one fewer fixed-cost job)
    val capG: Map[String, Long] = fileCaps.groupBy(_._3)
      .map { case (w, rs) => w -> rs.map(_._4).max }
    val totalCapG = capG.values.sum
    val restG: Map[String, Long] = capG.map { case (w, c) =>
      w -> (totalCapG - c) }
    // θ probe: per (w, field) best-wtfp-cap file (ties by file name),
    // one read per field, scored with the exact idf — partial wtf
    // ≤ true wtf and the contribution is increasing in it, so every
    // probe partial lower-bounds the doc's true score
    val probeByField: Map[String, Seq[String]] =
      wtfpCaps.groupBy(t => (t._3, t._1)).toSeq
        .map { case ((_, f), rs) => f -> rs.maxBy(t => (t._4, t._2))._2 }
        .groupBy(_._1).map { case (f, rs) =>
          f -> rs.map(_._2).distinct.sorted }
    val dfT = broadcast(dfExact.toSeq.toDF("w", "df"))
    val probeParts = fr.collect {
      case (f, dir, boost, bf, sdlF, _, live, bs)
          if bs.nonEmpty && probeByField.contains(f) =>
        readKnownUnder(spark, dir, probeByField(f))
          .filter(col("w").isin(live: _*))
          .select(col("doc_id"), col("w"),
            wtfp(boost, bf, sdlF).as("wtfp"))
    }
    val theta: Option[Long] = {
      val rows = probeParts.reduce(_.unionByName(_))
        .groupBy(col("doc_id"), col("w"))
        .agg(sum(col("wtfp")).as("wtfdec"))
        .join(dfT, Seq("w"))
        .withColumn("idf", round(
          log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)),
          6))
        .withColumn("c", round(
          col("idf") * col("wtfdec").cast("double") /
            (lit(k1) + col("wtfdec").cast("double")), 6)
          .cast("decimal(28,6)"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(k)
        .select(col("s")).collect()
      if (rows.length < k) None
      else Some(micros(rows.last.getDecimal(0)))
    }
    // survivor rule per (field, file), strict skip
    val relevant = wtfpCaps.map(t => (t._1, t._2)).distinct
    val fileCapsByFile = fileCaps.groupBy(t => (t._1, t._2))
    val survivors = theta.fold(relevant)(t =>
      relevant.filter { ff =>
        fileCapsByFile(ff).exists(c => c._4 + restG(c._3) >= t) })
    val skipped = relevant.filterNot(survivors.toSet)
    lastPruneStats = Some(PruneStats(relevant.size, survivors.size,
      skipped.size, theta, delegated = false))
    if (survivors.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").cast("double").as("score"))
    // survivor-only scoring — the unpruned serve's expressions over
    // the pruned read, with the exact any-field df broadcast
    val survByField = survivors.groupBy(_._1)
      .map { case (f, fs) => f -> fs.map(_._2).sorted }
    val parts = fr.collect {
      case (f, dir, boost, bf, sdlF, _, live, bs)
          if bs.nonEmpty && survByField.contains(f) =>
        readKnownUnder(spark, dir, survByField(f))
          .filter(col("w").isin(live: _*))
          .select(col("doc_id"), col("w"),
            wtfp(boost, bf, sdlF).as("wtfp"))
    }
    val union = parts.reduce(_.unionByName(_))
    union.groupBy(col("doc_id"), col("w"))
      .agg(sum(col("wtfp")).as("wtf"))
      .join(dfT, Seq("w"))
      .withColumn("idf", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6))
      .withColumn("c", round(
        col("idf") * col("wtf").cast("double") /
          (lit(k1) + col("wtf").cast("double")), 6)
        .cast("decimal(28,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCHED block-max-pruned BM25F — [[bm25fTopKPruned]] for a whole
    * `(idCol, termsCol: array<string>)` query frame, per-query rows
    * bit-identical to [[bm25fTopKBatch]]. The algebra runs
    * DISTRIBUTED per the batched-family discipline (driver-held state
    * is file lists and bucket ids, never queries or postings): caps
    * and the cross-field folds are sidecar-frame joins, per-query θ
    * is a window rank over ONE shared probe read per field, the
    * survivor union is one caps×queries join, and the drop-by-order
    * theorem holds PER QUERY against the union's complement (a file
    * skipped by every query bounds every query's straddlers sub-θ).
    * The exact any-field df pass is shared by the whole batch and
    * materialized once (localCheckpoint), so the final plan reads
    * survivor files only. Delegates to [[bm25fTopKBatch]] on pending
    * tombstones, an un-opted field store, or a failed heal. */
  def bm25fTopKPrunedBatch(spark: SparkSession,
                           fields: Seq[(String, String, Double, Double)],
                           queries: DataFrame, idCol: String,
                           termsCol: String, k: Int,
                           k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one field store")
    require(k >= 1, "need at least one result slot")
    require(k1 > 0, "k1 must be positive (saturation monotonicity)")
    require(fields.forall { case (_, _, boost, bf) =>
        boost >= 0 && bf >= 0 && bf <= 1 },
      "caps are upper bounds only for boost >= 0 and 0 <= b_f <= 1")
    import spark.implicits._
    lastPruneStats = None
    if (fields.exists { case (_, d, _, _) =>
          tombstoneCount(spark, d) > 0L } ||
        fields.exists { case (_, d, _, _) =>
          !graft.sinks.HadoopSwap.exists(spark, blockmaxPath(d)) } ||
        fields.exists { case (_, d, _, _) =>
          !tryEnsureBlockCoverage(spark, d) }) {
      lastPruneStats = Some(PruneStats(0, 0, 0, None, delegated = true))
      return bm25fTopKBatch(spark, fields, queries, idCol, termsCol,
        k, k1)
    }
    val stats = fields.map { case (f, dir, _, _) =>
      f -> readStats(spark, dir)
    }
    val ns = stats.map(_._2._1).distinct
    require(ns.size == 1,
      s"field stores must hold the same corpus (n per field: " +
        s"${stats.map { case (f, (nf, _, _)) => s"$f=$nf" }.mkString(", ")})")
    val n = ns.head
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("w"))
      .filter(col("w").isNotNull)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
    if (qt.limit(1).count() == 0L) return emptyTopKBatch(spark)
    val termsF = qt.select(col("w")).distinct().localCheckpoint()
    def wtfp(boost: Double, bf: Double, sdlF: Long) =
      round(lit(boost) * col("tf") /
          (lit(1.0 - bf) + lit(bf) * col("dl") /
            round(lit(sdlF).cast("double") / lit(n), 6)), 6)
        .cast("decimal(28,6)")
    // per-field sidecar frames for the union terms
    val fr = fields.zip(stats).map {
      case ((f, dir, boost, bf), (_, (_, sdlF, nbF))) =>
        val liveFiles = graft.sinks.SkippingStore
          .listDataFileRelPaths(spark, dir)
        graft.sinks.SidecarFold.restoreAside(spark, blockmaxPath(dir))
        val bsDF = graft.sinks.SidecarFold.withReadRetry() {
          readKnown(spark, blockmaxPath(dir))
            .join(broadcast(termsF), Seq("w"))
            .join(broadcast(liveFiles.toDF("file")), Seq("file"),
              "left_semi")
            .dropDuplicates("file", "w")
            .localCheckpoint()
        }
        (f, dir, boost, bf, sdlF, nbF, bsDF)
    }
    if (fr.forall(_._7.isEmpty)) return emptyTopKBatch(spark)
    // exact ANY-FIELD df for the union terms — one shared cheap
    // (doc_id, w) pass, materialized so the final plan reuses it
    val frBuckets = collectStoreBuckets(spark,
      fr.map { case (_, dir, _, _, _, nbF, _) => (dir, nbF) }, termsF)
    val dfParts = fr.zip(frBuckets).flatMap {
      case ((_, dir, _, _, _, nbF, _), buckets) =>
      val wantedF = dropAbsentTermRows(spark, dir, termsF)
      if (buckets.isEmpty) None
      else Some(readKnown(spark, dir)
        .filter(col("tb").isin(buckets: _*))
        .drop("tb")
        .join(wantedF, Seq("w"))
        .select(col("doc_id"), col("w")))
    }
    if (dfParts.isEmpty) return emptyTopKBatch(spark)
    val dfT = broadcast(dfParts.reduce(_.unionByName(_))
      .groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      .localCheckpoint())
    val idfExpr = round(
      log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)), 6)
    def contribOf(rows: DataFrame): DataFrame =
      rows.join(dfT, Seq("w"))
        .withColumn("idf", idfExpr)
        .withColumn("wtfd", col("wtf").cast("double") / lit(1e6))
        .withColumn("c", round(
          col("idf") * col("wtfd") / (lit(k1) + col("wtfd")), 6)
          .cast("decimal(28,6)"))
    val cm = (col("c") * 1000000L).cast("long")
    // per-(field, file, w) wtfp caps evaluated at (maxtf, mindl),
    // one frame across fields
    val capsAll = fr.map { case (f, _, boost, bf, sdlF, _, bsDF) =>
      bsDF.select(col("file"), col("w"), col("maxtf").as("tf"),
          col("mindl").as("dl"))
        .select(lit(f).as("field"), col("file"), col("w"),
          (wtfp(boost, bf, sdlF) * 1000000L).cast("long").as("cwf"))
    }.reduce(_.unionByName(_))
      .localCheckpoint() // files×union-terms rows
    val capWtfpG = capsAll.groupBy(col("w"), col("field"))
      .agg(max(col("cwf")).as("gwf"))
    val capWtfTotal = capWtfpG.groupBy(col("w"))
      .agg(sum(col("gwf")).as("total"))
    // capG(w): exact-idf contribution at the cross-field total
    val capG = contribOf(capWtfTotal
        .select(col("w"), col("total").as("wtf")))
      .select(col("w"), cm.as("cap_g"))
    // cap(w, F@f): own-file part + other fields' maxima
    val fileCaps = contribOf(capsAll
        .join(capWtfpG, Seq("w", "field"))
        .join(capWtfTotal, Seq("w"))
        .select(col("field"), col("file"), col("w"),
          (col("cwf") + col("total") - col("gwf")).as("wtf")))
      .select(col("field"), col("file"), col("w"), cm.as("cap"))
      .localCheckpoint()
    // per-(query, term) rest-mass (BM25F contributions are >= 0)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val qrest = qt.join(broadcast(capG), Seq("w"))
      .withColumn("rest", sum(col("cap_g")).over(wq) - col("cap_g"))
    // θ per query from one probe read per field (per-(w, field)
    // best-wtfp-cap file), scored with exact idf
    val wprobe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w"), col("field"))
      .orderBy(col("cwf").desc, col("file"))
    val probeByField: Map[String, Seq[String]] = capsAll
      .withColumn("_r", row_number().over(wprobe)).filter(col("_r") === 1)
      .select(col("field"), col("file")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (f, rs) =>
        f -> rs.map(_._2).distinct.sorted.toSeq }
    val probeParts = fr.collect {
      case (f, dir, boost, bf, sdlF, _, _) if probeByField.contains(f) =>
        readKnownUnder(spark, dir, probeByField(f))
          .join(broadcast(termsF), Seq("w"))
          .select(col("doc_id"), col("w"),
            wtfp(boost, bf, sdlF).as("wtfp"))
    }
    val wrank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    val thetaQ = probeParts.reduce(_.unionByName(_))
      .groupBy(col("doc_id"), col("w"))
      .agg((sum(col("wtfp")) * 1000000L).cast("long").as("wtf"))
      .transform(contribOf)
      .join(qt.select(col("query_id"), col("w")), Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg((sum(col("c")) * 1000000L).cast("long").as("s"))
      .withColumn("_r", row_number().over(wrank)).filter(col("_r") === k)
      .select(col("query_id"), col("s").as("theta"))
      .localCheckpoint()
    // survivor union: a (field, file) lives iff SOME query's bound
    // reaches its θ (queries with no θ row keep everything)
    val survivorsF = fileCaps
      .join(qrest.select(col("query_id"), col("w"), col("rest")),
        Seq("w"))
      .join(thetaQ, Seq("query_id"), "left")
      .filter(col("theta").isNull ||
        col("cap") + col("rest") >= col("theta"))
      .select(col("field"), col("file")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val relevant = capsAll.select(col("field"), col("file")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val skipped = relevant.toSet -- survivorsF.toSet
    lastPruneStats = Some(PruneStats(relevant.length, survivorsF.length,
      skipped.size, None, delegated = false))
    if (survivorsF.isEmpty) return emptyTopKBatch(spark)
    val survByField = survivorsF.groupBy(_._1)
      .map { case (f, fs) => f -> fs.map(_._2).sorted.toSeq }
    // survivor-only scoring with the shared exact df — the unpruned
    // batch's expressions over the pruned read; straddlers drop by
    // ORDER per query (computed under-counts stay sub-θ)
    val parts = fr.collect {
      case (f, dir, boost, bf, sdlF, _, _) if survByField.contains(f) =>
        readKnownUnder(spark, dir, survByField(f))
          .join(broadcast(termsF), Seq("w"))
          .select(col("doc_id"), col("w"),
            wtfp(boost, bf, sdlF).as("wtfp"))
    }
    val contrib = parts.reduce(_.unionByName(_))
      .groupBy(col("doc_id"), col("w"))
      .agg(sum(col("wtfp")).as("wtf"))
      .join(dfT, Seq("w"))
      .withColumn("idf", idfExpr)
      .withColumn("c", round(
        col("idf") * col("wtf").cast("double") /
          (lit(k1) + col("wtf").cast("double")), 6)
        .cast("decimal(28,6)"))
      .select(col("w"), col("doc_id"), col("c"))
    contrib.join(qt, Seq("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.top_k_tagged(k)(col("doc_id"),
        col("score"), col("n_terms")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("hit"))
      .select(col("query_id"), col("hit._1").as("doc_id"),
        col("hit._3").as("n_terms"), col("hit._2").as("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }
}
