package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Components, Curation, Dedup, Graph, Similarity, TextIndex}

/** Training-data-pipeline operators (builder brief: dedup, similarity
  * search, text analysis, multimodal metadata) over the `documents` and
  * `embeddings` testdata tables, each with a DuckDB oracle.
  *
  * Hashing is md5-only so oracles reproduce bit-for-bit (see
  * [[graft.operators.Dedup]]); float math is widened to double and folded
  * left-to-right, then rounded to 6 decimals before any ranking.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-input-dir scratch path: hashing `dir` in keeps concurrent
    * sessions on different SFs from expiring each other's store
    * mid-query (the q146 collision fix, applied store-wide). */
  private def scratch(tag: String, dir: String): String =
    sys.props("java.io.tmpdir") +
      s"/graft_${tag}_store_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** Run INDEPENDENT fixture-store builds concurrently (optimization
    * guide §2.6: Spark's scheduler happily runs several jobs at once
    * inside one application — actions are only sequential because the
    * driver calls them sequentially, and a multi-store fixture's
    * builds are a textbook case: disjoint output dirs, disjoint input
    * slices, no shared state beyond the session). Results return in
    * input order. Each store's own build pipeline stays sequential
    * inside its task, so every store's bytes are identical to the
    * sequential run — only the wall-clock overlap changes.
    *
    * Failure: results are awaited in COMPLETION order, so the first
    * failure is seen as soon as it happens. It cancels the siblings
    * (`shutdownNow` interrupts the running ones and drops the queued),
    * waits a bounded time for them to stop, and rethrows its real
    * cause with every other sibling's own failure attached as
    * suppressed — interrupts the cancel itself caused are not
    * failures and are not attached. */
  private[graft] def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      import java.util.concurrent.{ExecutionException, TimeUnit}
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(items.size, 6))
      val done = new java.util.concurrent.ExecutorCompletionService[B](pool)
      try {
        val futs = items.map(a =>
          done.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(a)
          }))
        futs.indices.foreach { _ =>
          val fut = done.take()
          try fut.get()
          catch {
            case e: ExecutionException =>
              pool.shutdownNow()
              pool.awaitTermination(30, TimeUnit.SECONDS)
              val first = e.getCause
              futs.filter(o => (o ne fut) && o.isDone && !o.isCancelled)
                .foreach { o =>
                  try o.get()
                  catch {
                    case oe: ExecutionException
                        if !oe.getCause.isInstanceOf[InterruptedException]
                          && (oe.getCause ne first) =>
                      first.addSuppressed(oe.getCause)
                    case _: ExecutionException =>
                  }
                }
              throw first
          }
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }

  /** `cell=` partition-directory count of a postings store, through the
    * Hadoop `FileSystem` — the in-query prune asserts must run on the
    * same API as the engine so the harness works unchanged on
    * `file:`/`hdfs:`-qualified scratch roots (a `java.io.File` walk
    * NPEs on a qualified path — VERDICT r8 / ADVICE). */
  private def cellDirCount(s: SparkSession, out: String): Int = {
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
  }

  /** Shared oracle fragment: distinct word n-gram shingles per doc. */
  private def shingleCte(n: Int): String = {
    val parts = (0 until n).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - ${n - 1}), i -> $parts)) AS s
       |  FROM toks WHERE len(t) >= $n))""".stripMargin
  }

  // ---------------------------------------------------------------- q27
  // Exact dedup via content hash (scale analog of SURVEY.md A5).
  private def q27DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("content_hash"))

  private val q27Sql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------------------- q28
  // MinHash + LSH banding near-dup candidates (8 hashes, 2 bands of 4).
  private def q28MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // map-only signatures via the native MinHashMd5 expression — no
    // shingle explode/shuffle; identical output to the groupBy form
    val sig = Dedup.minhashSignatureDirect(t(s, dir, "documents"), "doc_id", "text", 3, 8)
    // PRODUCTION configuration: the finite bucket cap is part of the
    // operator's contract and the oracle mirrors it (HAVING <= 1000),
    // so the gate exercises the exact plan a cluster would run
    Dedup.lshCandidates(sig, 8, 4, maxBucket = 1000)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q28Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |keep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |         HAVING COUNT(*) <= 1000),
       |kept AS (SELECT b.* FROM bands b JOIN keep k USING (band, bucket))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM kept a JOIN kept b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q29
  // n-gram Jaccard near-dup pairs over an inverted shingle index.
  private def q29Jaccard(s: SparkSession, dir: String): DataFrame =
    // PRODUCTION configuration: the finite df cap is the operator's
    // default and the oracle mirrors it exactly (HAVING <= 1000), so
    // the gate checks the capped plan a cluster runs — not a special
    // uncapped oracle shape. (Dedup.jaccardPairsPrefix remains the
    // exact-no-cap skew path; on this flat-df synthetic corpus its
    // verification joins cost more than the pruning saves.)
    Dedup.jaccardPairsFromDocs(t(s, dir, "documents"), "doc_id", "text", 3,
        0.35, maxDf = 1000)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q29Sql =
    s"""WITH ${shingleCte(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |rare AS (SELECT * FROM sh WHERE s IN (
       |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.35
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q187
  // Per-language quantile normalization (the FineWeb-style fair
  // cross-lingual thresholding): each doc's length maps to its rank
  // share WITHIN its language, so one global cutoff keeps the same
  // fraction of every language instead of starving low-resource ones.
  // Explicit rn/cnt (not percent_rank) — engine-independent at n = 1.
  private def q187ScoreNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy(col("lang"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("qnorm",
        round(row_number().over(w).cast("double") /
          count(lit(1)).over(cw), 6))
      .orderBy(col("doc_id"))
  }

  private val q187Sql =
    """SELECT doc_id, lang, n_chars,
      |  round(CAST(row_number() OVER (PARTITION BY lang
      |                                ORDER BY n_chars, doc_id) AS DOUBLE) /
      |        COUNT(*) OVER (PARTITION BY lang), 6) AS qnorm
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q188
  // Asymmetric containment (Dedup.containmentPairsFromDocs): the
  // quote/boilerplate-wrap detector — a short doc fully embedded in a
  // long one scores cont ≈ 1 where Jaccard ≈ 0. Same inverted-index
  // candidate core and df cap as q29, different score.
  private def q188Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsFromDocs(t(s, dir, "documents"), "doc_id", "text",
        3, 0.6)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q188Sql =
    s"""WITH ${shingleCte(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |rare AS (SELECT * FROM sh WHERE s IN (
       |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / sa.n_sh AS cont_a,
       |  CAST(n_inter AS DOUBLE) / sb.n_sh AS cont_b
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.6
       |   OR CAST(n_inter AS DOUBLE) / sb.n_sh >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q190
  // Curriculum schedule (Curation.curriculumPhases): short-to-long
  // ordering with cumulative char budgets 40k/100k — phase 1 trains
  // first. The global running sum is partition-local windows + a
  // driver prefix over per-partition totals (IdAllocate discipline,
  // NO global window); the oracle is the straightforward window form.
  private def q190Curriculum(s: SparkSession, dir: String): DataFrame =
    Curation.curriculumPhases(t(s, dir, "documents"), "doc_id", "n_chars",
        "n_chars", Seq(40000L, 100000L))
      .select(col("doc_id"), col("cum_tokens"), col("phase"))
      .orderBy(col("doc_id"))

  private val q190Sql =
    """WITH c AS (
      |  SELECT doc_id,
      |    SUM(n_chars) OVER (ORDER BY n_chars, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM documents)
      |SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  CAST(CASE WHEN cum_tokens <= 40000 THEN 1
      |            WHEN cum_tokens <= 100000 THEN 2
      |            ELSE 3 END AS BIGINT) AS phase
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q30
  // SimHash fingerprint (16 bits, one md5 nibble per bit).
  private def q30Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", 16)
      .orderBy(col("doc_id"))

  private val q30Sql = {
    val sums = (0 until 16).map(j =>
      s"SUM(CASE WHEN substring(md5(w), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bits = (0 until 16).map(j => s"CASE WHEN s$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH words AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)),
       |sums AS (SELECT doc_id, $sums FROM words GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  // Brute-force cosine top-k similarity search (exact ANN baseline).
  private def q31CosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 20)

  private val q31Sql =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(embedding)),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(qv)),
      |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM embeddings, q WHERE vec_id <> 0)
      |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q32
  // Sign-bucket LSH ANN: probe only the query's 1-bit-per-dim bucket.
  private def q32AnnBucket(s: SparkSession, dir: String): DataFrame =
    Similarity.signBucketTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 6, 10)

  private val q32Sql =
    """WITH b AS (
      |  SELECT vec_id, embedding,
      |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT embedding AS qv, bucket FROM b WHERE vec_id = 0),
      |scored AS (
      |  SELECT b.vec_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(b.embedding)),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM b JOIN q ON b.bucket = q.bucket WHERE b.vec_id <> 0)
      |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q33
  // Language-ID heuristic: stopword-set hit counts + argmax.
  private val enSet = Seq("the", "a", "of", "and", "to")
  private val deSet = Seq("der", "die", "das", "und", "ist")
  private val frSet = Seq("le", "la", "et", "les", "des")

  private def hitCount(set: Seq[String]): String =
    s"size(filter(toks, x -> x IN (${set.map(w => s"'$w'").mkString(", ")})))"

  private def q33LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("en_n", expr(hitCount(enSet)))
      .withColumn("de_n", expr(hitCount(deSet)))
      .withColumn("fr_n", expr(hitCount(frSet)))
      .withColumn("predicted",
        when(col("en_n") >= col("de_n") && col("en_n") >= col("fr_n"), "en")
          .when(col("de_n") >= col("fr_n"), "de").otherwise("fr"))
      .select(col("doc_id"), col("en_n"), col("de_n"), col("fr_n"), col("predicted"))
      .orderBy(col("doc_id"))

  private val q33Sql = {
    def hits(set: Seq[String]) =
      s"len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${set.map(w => s"'$w'").mkString(", ")})))"
    s"""SELECT doc_id,
       |  CAST(${hits(enSet)} AS INTEGER) AS en_n,
       |  CAST(${hits(deSet)} AS INTEGER) AS de_n,
       |  CAST(${hits(frSet)} AS INTEGER) AS fr_n,
       |  CASE WHEN ${hits(enSet)} >= ${hits(deSet)} AND ${hits(enSet)} >= ${hits(frSet)} THEN 'en'
       |       WHEN ${hits(deSet)} >= ${hits(frSet)} THEN 'de' ELSE 'fr' END AS predicted
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q34
  // Quality scoring: token stats, type-token ratio, stopword ratio.
  private def q34Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_tokens"))
      .withColumn("stop_n", expr(hitCount(enSet)).cast("long"))
      .withColumn("stop_ratio", col("stop_n").cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 20) && (col("n_tokens") <= 1000) && (col("ttr") >= 0.2))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("ttr"),
        col("stop_ratio"), col("quality_ok"))
      .orderBy(col("doc_id"))

  private val q34Sql = {
    val toks = "string_split_regex(text, '\\s+')"
    val en = enSet.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($toks)) AS BIGINT) AS n_uniq,
       |  CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS ttr,
       |  CAST(len(list_filter($toks, x -> x IN ($en))) AS DOUBLE) / len($toks) AS stop_ratio,
       |  (len($toks) >= 20 AND len($toks) <= 1000
       |    AND CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) >= 0.2) AS quality_ok
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q35
  // Token counting: whitespace tokens + a BPE-ish regex token stream.
  private def q35TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("n_ws", size(split(col("text"), "\\s+")).cast("long"))
      .withColumn("n_bpe",
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").cast("long"))
      .select(col("doc_id"), col("n_ws"), col("n_bpe"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q35Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q36
  // Document fingerprint: min/max rolling md5 over word 5-grams.
  private def q36Fingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", 5)
      .groupBy(col("doc_id"))
      .agg(min(md5(col("shingle"))).as("fp_min"),
        max(md5(col("shingle"))).as("fp_max"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))

  private val q36Sql =
    s"""WITH ${shingleCte(5)}
       |SELECT doc_id, min(md5(s)) AS fp_min, max(md5(s)) AS fp_max, COUNT(*) AS n_shingles
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q37
  // Time-windowed event aggregation (batch form of the streaming path;
  // graft.streaming runs the same transform via readStream).
  private def q37TimeWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Relational.dsum("value").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  private val q37Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q83
  // Windowed top-k (trending detection): the q37 hourly counts ranked
  // within each window, keeping the top 2 event types — the
  // window-agg + per-window rank composition every monitoring /
  // trending pipeline runs. Spark 4 pushes the rank's sort through
  // WindowGroupLimit (per-partition top-k before the full window sort).
  private def q83WindowTopk(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour")).orderBy(col("n").desc, col("event_type"))
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .orderBy(col("hour"), col("rank"))
  }

  private val q83Sql =
    """WITH hourly AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT hour, event_type, n,
      |    row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rank
      |  FROM hourly)
      |SELECT hour, event_type, n, rank FROM ranked
      |WHERE rank <= 2 ORDER BY hour, rank""".stripMargin

  // ---------------------------------------------------------------- q84
  // Deterministic negative sampling (contrastive training pairs): a
  // hash-selected candidate pool broadcasts, each anchor ranks its
  // pairs by md5(anchor:candidate) — reproducible negatives with no
  // RNG and no O(n²) cross join (see Curation.negativeSample).
  private def q84NegSample(s: SparkSession, dir: String): DataFrame =
    Curation.negativeSample(t(s, dir, "documents"), "doc_id", 3, 64)
      .orderBy(col("anchor_id"), col("neg_rank"))

  private val q84Sql =
    """WITH pool AS (
      |  SELECT doc_id AS neg_id FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
      |pairs AS (
      |  SELECT d.doc_id AS anchor_id, p.neg_id,
      |    row_number() OVER (PARTITION BY d.doc_id
      |      ORDER BY substring(md5(d.doc_id || ':' || p.neg_id), 1, 8), p.neg_id)
      |      AS neg_rank
      |  FROM documents d JOIN pool p ON d.doc_id <> p.neg_id)
      |SELECT anchor_id, neg_id, CAST(neg_rank AS BIGINT) AS neg_rank
      |FROM pairs WHERE neg_rank <= 3
      |ORDER BY anchor_id, neg_rank""".stripMargin

  // ---------------------------------------------------------------- q85
  // Curation pipeline v2 — the round-4 operators composed in ONE
  // declarative plan: scrub boilerplate -> token gate -> mixture
  // resample to target language weights -> per-language accounting
  // joined with a segment-dup audit over the scrubbed text. Everything
  // before the final accounting is map-only or broadcast except the
  // segment-hash window and the per-stratum count.
  private def q85CurationV2(s: SparkSession, dir: String): DataFrame = {
    val clean = Curation.scrub(t(s, dir, "documents"), "text", Seq("\\b(the|a)\\b"))
      .drop("text").withColumnRenamed("clean", "text")
    val gated = clean.filter(size(split(col("text"), "\\s+")) >= 10)
    val dup = Dedup.segmentDedup(gated, "doc_id", "text", 10)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
    val kept = Curation.resampleToMixture(gated, "lang", "doc_id", q71Weights)
    kept.join(dup, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_dup"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_dup")).as("dup_segments"))
      .orderBy(col("lang"))
  }

  private val q85Sql =
    """WITH clean AS (
      |  SELECT doc_id, lang,
      |    trim(regexp_replace(regexp_replace(text, '\b(the|a)\b', ' ', 'g'),
      |         '\s+', ' ', 'g')) AS text
      |  FROM documents),
      |gated AS (
      |  SELECT * FROM clean WHERE len(string_split_regex(text, '\s+')) >= 10),
      |toksc AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM gated),
      |starts AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 10)) AS st
      |           FROM toksc),
      |segs AS (SELECT doc_id, st // 10 AS seg_idx,
      |           md5(array_to_string(list_slice(t, st + 1, st + 10), ' ')) AS h
      |         FROM starts),
      |dup AS (SELECT doc_id,
      |          CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |        FROM (SELECT doc_id, seg_idx,
      |                row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
      |              FROM segs)
      |        GROUP BY doc_id),
      |w(lang, wt) AS (VALUES
      |  ('en', CAST(0.25 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
      |  ('es', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
      |  ('zh', CAST(0.2 AS DOUBLE))),
      |counts AS (SELECT lang, COUNT(*) AS cnt FROM gated GROUP BY lang),
      |caps AS (SELECT c.lang, w.wt, c.cnt, CAST(c.cnt AS DOUBLE) / w.wt AS cap
      |         FROM counts c JOIN w ON c.lang = w.lang),
      |nstar AS (SELECT MIN(cap) AS ns FROM caps),
      |rates AS (SELECT lang, wt * ns / CAST(cnt AS DOUBLE) AS rate FROM caps, nstar),
      |kept AS (
      |  SELECT g.doc_id, g.lang FROM gated g JOIN rates r ON g.lang = r.lang
      |  WHERE r.rate >= 1.0
      |     OR substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 8) <
      |        lpad(lower(hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0'))
      |SELECT k.lang, COUNT(*) AS n_kept,
      |  CAST(SUM(COALESCE(d.n_dup, 0)) AS BIGINT) AS dup_segments
      |FROM kept k LEFT JOIN dup d ON k.doc_id = d.doc_id
      |GROUP BY k.lang ORDER BY k.lang""".stripMargin

  // ---------------------------------------------------------------- q87
  // Skip-gram co-occurrence counts (window 2): the word2vec-style
  // corpus statistic behind embedding training and collocation
  // analysis. LINEAR in tokens (each position pairs with <=2
  // successors), unlike within-doc all-pairs which is quadratic —
  // that distinction is the 100 TB design. Counts are exact integers
  // (consumers derive PMI themselves — no log in the oracle, libm
  // differs across engines). Pairs are ordered (min, max) so "a b"
  // and "b a" accumulate together.
  private def q87Cooccur(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(toks) - 2), i ->
          |  transform(sequence(i + 1, least(i + 2, size(toks) - 1)), j ->
          |    named_struct(
          |      'w1', least(toks[i], toks[j]),
          |      'w2', greatest(toks[i], toks[j])))))""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(20)

  private val q87Sql =
    """WITH toks AS (
      |  SELECT string_split_regex(text, '\s+') AS t FROM documents
      |  WHERE len(string_split_regex(text, '\s+')) >= 2),
      |pairs AS (
      |  SELECT least(t[i], t[j]) AS w1, greatest(t[i], t[j]) AS w2
      |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
      |       LATERAL (SELECT unnest(generate_series(i + 1, least(i + 2, len(t)))) AS j))
      |SELECT w1, w2, COUNT(*) AS n FROM pairs
      |GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q88
  // Embedding QC before indexing: per-label L2-norm distribution and
  // degenerate-vector counts (near-zero norms break cosine; the check
  // every ANN build runs first). Map-only scan + one partial-aggregable
  // groupBy; norms widen to double, fold left-to-right, round 6.
  private def q88EmbedQc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("norm", round(
        sqrt(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"),
        sum(when(col("norm") < 0.001, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy(col("label"))

  private val q88Sql =
    """WITH n AS (
      |  SELECT label,
      |    round(sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n_vecs,
      |  round(MIN(norm), 6) AS min_norm,
      |  round(MAX(norm), 6) AS max_norm,
      |  CAST(SUM(CASE WHEN norm < 0.001 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q38
  // Multimodal metadata over an opaque binary column (decode itself is
  // stubbed in graft.multimodal; the Spark-side plumbing is real).
  private def q38BinaryMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("blob", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        upper(hex(expr("substring(blob, 1, 4)"))).as("header_hex"))
      .orderBy(col("doc_id"))

  private val q38Sql =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  upper(hex(CAST(substring(text, 1, 4) AS BLOB))) AS header_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q124
  // REAL video-container round-trip, distributed (multimodal/Mp4Codec):
  // each row JPEG-encodes its frames (JDK ImageIO), muxes them into a
  // valid single-track MP4 (ftyp/mdat/moov with full sample tables),
  // then demuxes its OWN output through the box-tree parser. The
  // in-query require proves the sample table resolves every frame to
  // byte-identical encoded samples; the relational oracle checks the
  // container metadata (brand, codec fourcc, stsz frame count, tkhd
  // dims, mvhd duration) against closed-form expectations. Map-only —
  // the 100 TB shape for media normalization at ingest: payloads never
  // shuffle, one codec init per partition, output is metadata-sized.
  private def q124Mp4RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = t(s, dir, "customer").filter(col("c_custkey") < 400)
      .select(col("c_custkey")).as[Long]
    keys.map { key =>
      val nFrames = 2 + (key % 4).toInt
      val frames = (0 until nFrames).map { i =>
        graft.multimodal.MediaFixtures.solidJpeg(8, 8,
          ((key * 37 + i * 50) % 256).toInt)
      }
      val payload = graft.multimodal.Mp4Codec.mux(frames, 8, 8, fps = 10)
      val meta = graft.multimodal.Mp4Codec.parse(payload).getOrElse(
        throw new IllegalStateException(s"muxed mp4 for $key must parse"))
      val v = meta.video.getOrElse(
        throw new IllegalStateException(s"mp4 for $key lost its video track"))
      val demuxed = graft.multimodal.Mp4Codec.sampleFrames(payload, nFrames)
        .getOrElse(Seq.empty)
      require(demuxed.length == nFrames &&
        demuxed.map(_._2.toSeq) == frames.map(_.toSeq),
        s"demux of $key must return byte-identical samples at true offsets")
      (key, meta.brand, v.codec, v.sampleSizes.length.toLong,
        v.width, v.height, meta.duration)
    }.toDF("id", "brand", "codec", "n_frames", "width", "height", "dur_ticks")
      .orderBy(col("id"))
  }

  private val q124Sql =
    """SELECT c_custkey AS id, 'isom' AS brand, 'jpeg' AS codec,
      |  CAST(2 + c_custkey % 4 AS BIGINT) AS n_frames,
      |  8 AS width, 8 AS height,
      |  CAST(2 + c_custkey % 4 AS BIGINT) AS dur_ticks
      |FROM customer WHERE c_custkey < 400
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q125
  // Cross-container parity (multimodal/EbmlCodec vs Mp4Codec): the same
  // JPEG frames are muxed into BOTH a Matroska file (V_MJPEG
  // SimpleBlocks) and an MP4 ('jpeg' sample table), and each container
  // is demuxed by its own parser. The in-query require proves both
  // demuxes return the identical frame bytes — two independent
  // container stacks, one truth — and the relational oracle checks the
  // EBML-side metadata (DocType, codec id, block count, track dims,
  // duration in ms ticks at the fixed 1e6 timecode scale). Map-only.
  private def q125MkvParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = t(s, dir, "supplier").filter(col("s_suppkey") < 200)
      .select(col("s_suppkey")).as[Long]
    keys.map { key =>
      val nFrames = 1 + (key % 3).toInt
      val frames = (0 until nFrames).map { i =>
        graft.multimodal.MediaFixtures.solidJpeg(8, 8,
          ((key * 53 + i * 70) % 256).toInt)
      }
      val mkv = graft.multimodal.EbmlCodec.mux(frames, 8, 8, fps = 10)
      val mp4 = graft.multimodal.Mp4Codec.mux(frames, 8, 8, fps = 10)
      val mkvFrames = graft.multimodal.EbmlCodec.sampleFrames(mkv, nFrames)
        .getOrElse(Seq.empty)
      val mp4Frames = graft.multimodal.Mp4Codec.sampleFrames(mp4, nFrames)
        .getOrElse(Seq.empty)
      require(mkvFrames.map(_._2.toSeq) == frames.map(_.toSeq) &&
        mp4Frames.map(_._2.toSeq) == frames.map(_.toSeq),
        s"both containers must demux $key back to the identical frames")
      val meta = graft.multimodal.EbmlCodec.parse(mkv).getOrElse(
        throw new IllegalStateException(s"muxed mkv for $key must parse"))
      val v = meta.video.getOrElse(
        throw new IllegalStateException(s"mkv for $key lost its video track"))
      (key, meta.docType, v.codecId, meta.nVideoBlocks,
        v.width, v.height, meta.durationTicks)
    }.toDF("id", "doc_type", "codec_id", "n_blocks", "width", "height",
      "dur_ms")
      .orderBy(col("id"))
  }

  private val q125Sql =
    """SELECT s_suppkey AS id, 'matroska' AS doc_type,
      |  'V_MJPEG' AS codec_id,
      |  CAST(1 + s_suppkey % 3 AS BIGINT) AS n_blocks,
      |  8 AS width, 8 AS height,
      |  CAST((1 + s_suppkey % 3) * 100 AS DOUBLE) AS dur_ms
      |FROM supplier WHERE s_suppkey < 200
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q129
  // WARC ingest (sources/Warc): documents are serialized into
  // Common-Crawl-shaped archives (16 multi-record WARC payloads, each
  // record an HTTP response member with exact Content-Length), then the
  // PRODUCTION parser splits records, parses WARC headers, and peels
  // the HTTP status/Content-Type/body apart. The in-query require
  // proves every synthesized record parses; the relational oracle
  // recomputes the projection — including the 45-byte HTTP header
  // arithmetic inside Content-Length — from the documents table.
  // Map-only per archive; bodies never reach a shuffle (the groupByKey
  // builds archives, the parse output is metadata + text).
  private def q129WarcParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    docs.groupByKey(_._1 % 16)
      .flatMapGroups { (_, it) =>
        val rows = it.toSeq.sortBy(_._1)
        val recs = rows.map { case (id, text) =>
          graft.sources.Warc.formatRecord("response",
            s"http://corpus.test/doc/$id", "2024-01-01T00:00:00Z",
            s"<urn:graft:$id>", Option(text).getOrElse("").getBytes("UTF-8"),
            httpStatus = Some(200), httpContentType = Some("text/plain"))
        }
        val archive = recs.foldLeft(Array.emptyByteArray)(_ ++ _)
        val parsed = graft.sources.Warc.parseRecords(archive)
        require(parsed.length == recs.length,
          s"all ${recs.length} synthesized records must parse, got ${parsed.length}")
        parsed.iterator.map { r =>
          (r.targetUri.split('/').last.toLong, r.warcType,
            r.httpStatus.getOrElse(-1), r.httpContentType.getOrElse(""),
            r.contentLength, new String(r.body, "UTF-8"))
        }
      }
      .toDF("doc_id", "warc_type", "status", "http_ct", "content_length", "text")
      .orderBy(col("doc_id"))
  }

  private val q129Sql =
    """SELECT doc_id, 'response' AS warc_type, 200 AS status,
      |  'text/plain' AS http_ct,
      |  CAST(45 + strlen(text) AS BIGINT) AS content_length,
      |  text
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q130
  // HTML -> text extraction (Curation.htmlToText): each document is
  // wrapped in a realistic page shell (head, style+script blocks whose
  // contents must vanish WHOLESALE including a '<' inside the script,
  // a comment, markup, and an entity-laden tail), then the production
  // extractor — built-in regexp_replace/replace only, codegen'd, no
  // UDF — recovers the text. Every regex keeps to the Java/RE2 common
  // subset so the DuckDB oracle recomputes the identical chain.
  private def q130HtmlText(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>t</title><style type=\"text/css\">p { color: red; }" +
        "</style><script>var x = 1 < 2 && \"a\";</script></head><body>" +
        "<!-- boilerplate --><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><p>x &amp; y &lt;z&gt; &quot;q&quot; &#39;s&#39;&nbsp;tail</p>" +
        "<br/></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.operators.Curation.htmlToText(html).as("clean"))
      .withColumn("n_chars", length(col("clean")).cast("long"))
      .orderBy(col("doc_id"))
  }

  private val q130Sql =
    """WITH h AS (SELECT doc_id,
      |  '<html><head><title>t</title><style type="text/css">p { color: red; }' ||
      |  '</style><script>var x = 1 < 2 && "a";</script></head><body>' ||
      |  '<!-- boilerplate --><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</h1><p>' || text ||
      |  '</p><p>x &amp; y &lt;z&gt; &quot;q&quot; &#39;s&#39;&nbsp;tail</p>' ||
      |  '<br/></body></html>' AS html FROM documents),
      |c AS (SELECT doc_id, trim(regexp_replace(
      |  replace(replace(replace(replace(replace(replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |        '(?s)<!--.*?-->', ' ', 'g'),
      |      '<[^>]*>', ' ', 'g'),
      |    '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
      |    '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
      |  '\s+', ' ', 'g')) AS clean FROM h)
      |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q131
  // URL host curation (Curation.urlHost): hosts parsed with the same
  // Java/RE2-common regex on both engines (ports/paths/fragments
  // stripped, lowercased, www. removed, junk -> null and dropped),
  // then the per-host document counts every crawl-mix policy keys on.
  private def q131UrlStats(s: SparkSession, dir: String): DataFrame = {
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://www.example.com/doc/"), col("doc_id")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://news.site.org:8080/a?id="), col("doc_id")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://Example.COM/p/"), col("doc_id"), lit("#frag")))
      .otherwise(lit("not a url"))
    t(s, dir, "documents")
      .select(col("doc_id"), graft.operators.Curation.urlHost(url).as("host"))
      .filter(col("host").isNotNull)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("host"))
  }

  private val q131Sql =
    """WITH u AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN 'https://www.example.com/doc/' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'http://news.site.org:8080/a?id=' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN 'https://Example.COM/p/' || CAST(doc_id AS VARCHAR) || '#frag'
      |    ELSE 'not a url' END AS url FROM documents),
      |h AS (SELECT doc_id, nullif(regexp_replace(
      |    lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)),
      |    '^www\.', ''), '') AS host FROM u)
      |SELECT host, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
      |FROM h WHERE host IS NOT NULL
      |GROUP BY host ORDER BY host""".stripMargin

  // ---------------------------------------------------------------- q132
  // Line-level quality filtering (C4/Gopher): multi-line pages are
  // synthesized deterministically around each doc's text — one clean
  // lead sentence, a cookie-banner line, a bullet fragment, a
  // click-here boilerplate line, a too-short line, and the body — then
  // Curation.lineFilter keeps only lines with >=4 words, terminal
  // punctuation, no bullet prefix, and no boilerplate phrase. The whole
  // pass is higher-order array functions inside one codegen'd
  // projection: zero shuffle at any scale.
  private def q132LineQuality(s: SparkSession, dir: String): DataFrame = {
    val page = concat_ws("\n",
      concat(lit("Document "), col("doc_id").cast("string"),
        lit(" opens with a clean first sentence.")),
      lit("Accept all cookies to continue"),
      lit("* a bullet fragment that still ends with a period."),
      lit("Please click here to subscribe to the newsletter."),
      lit("Too short."),
      concat(col("text"), lit(" and the body line ends cleanly.")))
    Curation.lineFilter(
        t(s, dir, "documents").select(col("doc_id"), page.as("page")),
        "page", 4, Seq("click here", "cookie"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        length(col("clean")).cast("long").as("n_clean_chars"))
      .orderBy(col("doc_id"))
  }

  private val q132Sql =
    """WITH p AS (SELECT doc_id,
      |    'Document ' || CAST(doc_id AS VARCHAR) || ' opens with a clean first sentence.' || chr(10) ||
      |    'Accept all cookies to continue' || chr(10) ||
      |    '* a bullet fragment that still ends with a period.' || chr(10) ||
      |    'Please click here to subscribe to the newsletter.' || chr(10) ||
      |    'Too short.' || chr(10) ||
      |    text || ' and the body line ends cleanly.' AS page FROM documents),
      |l AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM p),
      |k AS (SELECT doc_id, ls, list_filter(ls, x ->
      |    len(string_split_regex(trim(x), '\s+')) >= 4
      |    AND regexp_matches(trim(x), '[.!?"]$')
      |    AND NOT regexp_matches(trim(x), '^[-*>]')
      |    AND NOT contains(lower(trim(x)), 'click here')
      |    AND NOT contains(lower(trim(x)), 'cookie')) AS ks FROM l)
      |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(ks) AS BIGINT) AS n_kept,
      |  CAST(length(array_to_string(ks, chr(10))) AS BIGINT) AS n_clean_chars
      |FROM k ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q133
  // BM25 top-k retrieval for a driver-held query (Okapi BM25,
  // k1=1.2 b=0.75). Per-term contributions are rounded to 6 decimals
  // and summed as DECIMAL(28,6) so the fold is order-insensitive
  // (the lmScore/linearScore convention); avgdl comes from an exact
  // BIGINT sum. Final top-k is TakeOrderedAndProject.
  private def q133Bm25(s: SparkSession, dir: String): DataFrame =
    Curation.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "join", "merge"), 15)

  private val q133Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('spark', 'join', 'merge') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q134
  // URL canonicalization + per-URL dedup: six deterministic surface
  // variants per logical page (www + mixed-case host, explicit :443,
  // fragment, trailing tracking param, leading tracking param, and a
  // distinct page with only tracking) collapse through
  // Curation.urlNormalize into dup groups of 3/2/1. The normalize chain
  // is codegen'd regexes in the Java/RE2-common subset, mirrored
  // literally by the oracle.
  private def q134UrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 6
    val g = expr("CAST(doc_id DIV 6 AS STRING)")
    val url = when(m === 0, concat(lit("https://www.Example.com/Article/"), g))
      .when(m === 1, concat(lit("https://example.com:443/Article/"), g))
      .when(m === 2, concat(lit("HTTPS://EXAMPLE.COM/Article/"), g, lit("#section")))
      .when(m === 3, concat(lit("http://news.site.org:8080/story?id="), g,
        lit("&utm_source=feed")))
      .when(m === 4, concat(lit("http://news.site.org:8080/story?utm_campaign=x&id="), g))
      .otherwise(concat(lit("https://blog.example.com/post/"), g, lit("?utm_medium=email")))
    t(s, dir, "documents")
      .select(col("doc_id"), Curation.urlNormalize(url).as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("canonical"))
  }

  private val q134Sql =
    """WITH u AS (SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
      |    WHEN 0 THEN 'https://www.Example.com/Article/' || CAST(doc_id // 6 AS VARCHAR)
      |    WHEN 1 THEN 'https://example.com:443/Article/' || CAST(doc_id // 6 AS VARCHAR)
      |    WHEN 2 THEN 'HTTPS://EXAMPLE.COM/Article/' || CAST(doc_id // 6 AS VARCHAR) || '#section'
      |    WHEN 3 THEN 'http://news.site.org:8080/story?id=' || CAST(doc_id // 6 AS VARCHAR) || '&utm_source=feed'
      |    WHEN 4 THEN 'http://news.site.org:8080/story?utm_campaign=x&id=' || CAST(doc_id // 6 AS VARCHAR)
      |    ELSE 'https://blog.example.com/post/' || CAST(doc_id // 6 AS VARCHAR) || '?utm_medium=email'
      |    END AS url FROM documents),
      |n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM u),
      |n2 AS (SELECT doc_id,
      |    lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) ||
      |    substr(u, len(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) + 1) AS u FROM n1),
      |n3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
      |    '^(https://[^/:?#]+):443([/?#]|$)', '\1\2'),
      |    '^(http://[^/:?#]+):80([/?#]|$)', '\1\2') AS u FROM n2),
      |n4 AS (SELECT doc_id, regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM n3),
      |n5 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
      |    '(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '', 'g'),
      |    '[?&](utm_[a-z]+|fbclid|gclid)=[^&#]*$', '') AS u FROM n4),
      |n6 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '\?$', ''), '/$', '') AS u FROM n5)
      |SELECT u AS canonical, COUNT(*) AS n_dups, MIN(doc_id) AS min_doc
      |FROM n6 GROUP BY u ORDER BY canonical""".stripMargin

  // ---------------------------------------------------------------- q135
  // Outlink extraction — the crawl-frontier primitive: every href in a
  // synthesized page (absolute https, absolute http with a tracking
  // param, a doc-varying CDN host, and a relative link), exploded and
  // grouped by target host. extractLinks + urlHost are codegen'd
  // regexes; the only shuffle is the final host-count agg.
  private def q135Outlinks(s: SparkSession, dir: String): DataFrame = {
    val g = col("doc_id").cast("string")
    val html = concat(
      lit("<p>intro</p><a href=\"https://docs.example.com/guide/"), g, lit("\">g</a>"),
      lit("<A HREF=\"http://Mirror.example.net/copy?id="), g, lit("\">m</a>"),
      lit("<a href=\"https://cdn"), (col("doc_id") % 2).cast("string"),
      lit(".assets.io/img\">c</a>"),
      lit("<a class=\"nav\" href=\"/local/"), g, lit("\">l</a>"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(Curation.extractLinks(html)).as("link"))
      .select(col("doc_id"),
        coalesce(Curation.urlHost(col("link")), lit("(relative)")).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("host"))
  }

  private val q135Sql =
    """WITH h AS (SELECT doc_id,
      |    '<p>intro</p><a href="https://docs.example.com/guide/' || CAST(doc_id AS VARCHAR) || '">g</a>' ||
      |    '<A HREF="http://Mirror.example.net/copy?id=' || CAST(doc_id AS VARCHAR) || '">m</a>' ||
      |    '<a href="https://cdn' || CAST(doc_id % 2 AS VARCHAR) || '.assets.io/img">c</a>' ||
      |    '<a class="nav" href="/local/' || CAST(doc_id AS VARCHAR) || '">l</a>' AS html
      |  FROM documents),
      |links AS (SELECT doc_id, unnest(regexp_extract_all(html, '(?i)href="([^"]*)"', 1)) AS link FROM h),
      |hosts AS (SELECT doc_id, coalesce(nullif(regexp_replace(
      |    lower(regexp_extract(link, '^https?://([^/:?#]+)', 1)),
      |    '^www\.', ''), ''), '(relative)') AS host FROM links)
      |SELECT host, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs
      |FROM hosts GROUP BY host ORDER BY host""".stripMargin

  // ---------------------------------------------------------------- q136
  // Robots-style prefix blocklist: URLs across two hosts with
  // disallowed path subtrees; Curation.prefixBlocklist drops blocked
  // docs via a broadcast equi-join on host plus a startswith residual,
  // then a broadcast anti-join on doc_id — the corpus never shuffles.
  private def q136Robots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = col("doc_id") % 4
    val g = col("doc_id").cast("string")
    val url = when(m === 0, concat(lit("https://site-a.org/public/"), g))
      .when(m === 1, concat(lit("https://site-a.org/private/"), g))
      .when(m === 2, concat(lit("https://site-b.org/tmp/cache/"), g))
      .otherwise(concat(lit("https://site-b.org/posts/"), g))
    val rules = Seq(("site-a.org", "/private"), ("site-b.org", "/tmp/"),
      ("site-c.org", "/x")).toDF("host", "prefix")
    val docs = t(s, dir, "documents").select(col("doc_id"), url.as("url"))
    Curation.prefixBlocklist(docs, "doc_id", "url", rules)
      .select(col("doc_id"), Curation.urlHost(col("url")).as("host"))
      .orderBy(col("doc_id"))
  }

  private val q136Sql =
    """WITH u AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN 'https://site-a.org/public/' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'https://site-a.org/private/' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN 'https://site-b.org/tmp/cache/' || CAST(doc_id AS VARCHAR)
      |    ELSE 'https://site-b.org/posts/' || CAST(doc_id AS VARCHAR)
      |    END AS url FROM documents),
      |r(host, prefix) AS (VALUES ('site-a.org', '/private'), ('site-b.org', '/tmp/'),
      |    ('site-c.org', '/x')),
      |k AS (SELECT doc_id, url,
      |    nullif(regexp_replace(lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)),
      |      '^www\.', ''), '') AS host,
      |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path FROM u)
      |SELECT doc_id, host FROM k WHERE NOT EXISTS (
      |  SELECT 1 FROM r WHERE r.host = k.host AND starts_with(k.path, r.prefix))
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q39
  // Corpus-level stats: one-row summary over the token stream.
  private def q39CorpusStats(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
    toks.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("vocab_size"),
      (sum(length(col("w"))).cast("double") / count(lit(1))).as("avg_token_len"))
  }

  private val q39Sql =
    """SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
      |  COUNT(DISTINCT w) AS vocab_size,
      |  CAST(SUM(length(w)) AS DOUBLE) / COUNT(*) AS avg_token_len
      |FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)""".stripMargin

  // ---------------------------------------------------------------- q42
  // Embedding-cosine near-dup pairs: sign-bucket candidates + exact
  // cosine confirm (completes the dedup family: exact / MinHash /
  // SimHash / n-gram Jaccard / embedding).
  private def q42EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    // oracle stays exact: the production default caps bucket size
    Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        bits = 6, minSim = 0.4, maxBucket = Long.MaxValue)
      .orderBy(col("id_a"), col("id_b"))

  private val q42Sql =
    """WITH b AS (
      |  SELECT vec_id, embedding,
      |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim
      |  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q44
  // IVF ANN: 1-Lloyd-step coarse quantizer (rounded centroids for
  // cross-engine reproducibility), probe the query's cell only.
  private def q44AnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, numCells = 8, k = 10)

  // ---------------------------------------------------------------- q50
  // IVF recall knob: same index, nprobe = 2 — the two nearest cells are
  // scanned, trading 2x candidates for recall (the knob every real IVF
  // index exposes; round-1 verdict's "single fixed probe cell" gap).
  private def q50AnnNprobe(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, numCells = 8, k = 10, nprobe = 2)

  private def l2Sql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  /** Rounded cosine similarity of two DuckDB lists — same widen-first /
    * round-6 discipline as [[graft.functions.CosineSimilarity]]. */
  private def cosSql(a: String, b: String) =
    s"""round(
       |      list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(generate_series(1, len($b)), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))), 6)""".stripMargin

  /** Shared oracle fragment: the deterministic 1-Lloyd-step IVF training
    * ([[Similarity.trainIvf]]) replayed in SQL; ends at `a1(vid, ev,
    * cell)` — every vector with its trained-cell assignment. */
  /** The shared IVF train+assign CTE chain; `trainWhere` restricts the
    * TRAINING corpus (seed assignment + Lloyd means) while d1/a1 still
    * assign EVERY vector with the trained centroids — which is exactly
    * build-then-append with a frozen index, since assignment is
    * per-row (the q206 incremental-store oracle). */
  private def ivfCtesTrainedOn(trainWhere: String): String = {
    def l2(a: String, b: String) = l2Sql(a, b)
    s"""init AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |d0 AS (
       |  SELECT e.vec_id AS vid, init.cid, ${l2("e.embedding", "init.cv")} AS d2
       |  FROM embeddings e CROSS JOIN init WHERE $trainWhere),
       |a0 AS (SELECT vid, cid AS cell0 FROM (
       |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn FROM d0) WHERE rn = 1),
       |dims AS (
       |  SELECT a0.cell0,
       |    unnest(generate_series(1, len(e.embedding))) AS i,
       |    unnest(list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS x
       |  FROM embeddings e JOIN a0 ON e.vec_id = a0.vid),
       |c1 AS (SELECT cell0 AS cid, list(m ORDER BY i) AS cv FROM (
       |  SELECT cell0, i, round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM dims GROUP BY cell0, i) GROUP BY cell0),
       |d1 AS (
       |  SELECT e.vec_id AS vid, e.embedding AS ev, c1.cid, ${l2("e.embedding", "c1.cv")} AS d2
       |  FROM embeddings e CROSS JOIN c1),
       |a1 AS (SELECT vid, ev, cid AS cell FROM (
       |  SELECT vid, ev, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1)""".stripMargin
  }

  private val ivfCtes: String = ivfCtesTrainedOn("TRUE")

  private def ivfSql(nprobe: Int): String =
    s"""WITH $ivfCtes,
       |q AS (SELECT ev AS qv FROM a1 WHERE vid = 0),
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d1 WHERE vid = 0) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT vid AS vec_id,
       |    ${cosSql("ev", "qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell CROSS JOIN q WHERE a1.vid <> 0)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  private val q44Sql = ivfSql(1)
  private val q50Sql = ivfSql(2)

  // --------------------------------------------------------------- q191
  // ANN index audit (Similarity.cellAssignments): per-cell member
  // counts and corpus share for the trained IVF index — the balance
  // report that predicts probe cost (a hot cell = a slow probe; IVF
  // throughput is only as good as its worst cell). Assignment is the
  // map-only argmin projection; the share rides a one-row total.
  private def q191IndexStats(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    val assigned = Similarity.cellAssignments(emb, "vec_id", "embedding", ix)
    val total = assigned.agg(count(lit(1)).as("t"))
    assigned.groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(total))
      .withColumn("share", round(col("n_members").cast("double") / col("t"), 6))
      .select(col("cell"), col("n_members"), col("share"))
      .orderBy(col("cell"))
  }

  private val q191Sql =
    s"""WITH $ivfCtes,
       |tot AS (SELECT COUNT(*) AS t FROM a1)
       |SELECT cell, COUNT(*) AS n_members,
       |  round(CAST(COUNT(*) AS DOUBLE) / t, 6) AS share
       |FROM a1, tot GROUP BY cell, t ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------- q52
  // Benchmark decontamination: corpus docs sharing any 3-gram with the
  // "benchmark" slice (doc_id < 50) are flagged with their overlap
  // count — the GPT-3-style n-gram decontamination rule as an
  // inverted-index join against a broadcast benchmark shingle set.
  private def q52Decontaminate(s: SparkSession, dir: String): DataFrame = {
    // shingle generation is map-only (array_distinct before explode), so
    // building each side from its own pushed-down scan beats
    // checkpointing every corpus shingle to disk for reuse
    val docs = t(s, dir, "documents")
    Curation.contaminated(
        Dedup.shingles(docs.filter(col("doc_id") >= 50), "doc_id", "text", 3),
        Dedup.shingles(docs.filter(col("doc_id") < 50), "doc_id", "text", 3))
      .orderBy(col("doc_id"))
  }

  private val q52Sql =
    s"""WITH ${shingleCte(3)},
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50)
       |SELECT sh.doc_id, COUNT(*) AS n_hits
       |FROM sh JOIN bench ON sh.s = bench.s
       |WHERE sh.doc_id >= 50
       |GROUP BY sh.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q53
  // Deterministic stratified sample: 5 docs per language ranked by
  // md5(doc_id) — reproducible quota sampling for corpus mixing.
  private def q53Stratified(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", 5)
      .select(col("lang"), col("doc_id"), col("source"))
      .orderBy(col("lang"), col("doc_id"))

  private val q53Sql =
    """SELECT lang, doc_id, source FROM (
      |  SELECT lang, doc_id, source,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 5
      |ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- q54
  // Gopher-style repetition filter: the dominant 2-gram's share of all
  // 2-gram occurrences per doc, with the repetitive flag.
  private def q54Repetition(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionRatio(t(s, dir, "documents"), "doc_id", "text", 2)
      .orderBy(col("doc_id"))

  private val q54Sql =
    """WITH toksr AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      |shr AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS s
      |  FROM toksr WHERE len(t) >= 2),
      |counts AS (SELECT doc_id, s, COUNT(*) AS c FROM shr GROUP BY doc_id, s)
      |SELECT doc_id,
      |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_ngram_ratio,
      |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > 0.2 AS repetitive
      |FROM counts GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q63
  // Near-dup pairs -> duplicate CLUSTERS via connected components
  // (min-label propagation) — the step every real dedup pipeline runs
  // between candidate generation and canonical-doc selection. Oracle:
  // the same clusters by recursive reachability.
  /** Shared Spark pipeline: LSH near-dup pairs -> connected components
    * (doc_id, cluster). Used by q63 (cluster assignment) and q93
    * (canonical-representative selection). */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignatureDirect(t(s, dir, "documents"), "doc_id", "text", 3, 8)
    val pairs = Dedup.lshCandidates(sig, 8, 4, maxBucket = Long.MaxValue)
    Components.duplicateClusters(pairs)
  }

  /** Shared oracle fragment for [[dupClusters]]: the same clusters by
    * recursive reachability, ending in CTE `clus(doc_id, cluster)`. */
  private val dupClusterCtes: String = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH RECURSIVE ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |clus AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
       |         FROM reach GROUP BY a)""".stripMargin
  }

  private def q63DupClusters(s: SparkSession, dir: String): DataFrame =
    dupClusters(s, dir).orderBy(col("doc_id"))

  private val q63Sql =
    s"""$dupClusterCtes
       |SELECT doc_id, cluster FROM clus ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q179
  // Quality-aware canonical selection: within each q63 duplicate
  // cluster keep the BEST copy (longest text, ties to low id) instead
  // of the smallest id — the curation choice that preserves the most
  // complete variant of a duplicated page. The argmax is one
  // max(struct(quality, -id)) partial-aggregable fold per cluster — no
  // per-cluster window sort.
  private def q179BestOfCluster(s: SparkSession, dir: String): DataFrame =
    dupClusters(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("q"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster"), (-col("b.nid")).as("keep_id"),
        col("n_members"), col("b.q").as("keep_chars"))
      .orderBy(col("cluster"))

  private val q179Sql =
    s"""$dupClusterCtes,
       |j AS (SELECT c.cluster, c.doc_id, d.n_chars
       |      FROM clus c JOIN documents d USING (doc_id)),
       |r AS (SELECT cluster, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY n_chars DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster) AS nm
       |  FROM j)
       |SELECT cluster, doc_id AS keep_id, CAST(nm AS BIGINT) AS n_members,
       |  n_chars AS keep_chars
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- q208
  // Split-leakage audit: q63's near-dup clusters joined to q45's
  // deterministic split assignment — any cluster spanning more than
  // one split means a near-duplicate of a training doc sits in
  // val/test and inflates eval (exact dups can't leak here, identical
  // text hashes to the same split; this catches the NEAR-dups). The
  // cluster frame is candidate-pair-sized, the split column is one
  // map-side hash, and the spanning test is a partial-aggregable
  // count(distinct-of-3).
  private def q208SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val splits = t(s, dir, "documents")
      .withColumn("b", expr("substring(md5(text), 1, 1)"))
      .withColumn("split",
        when(col("b") < "c", "train")
          .when(col("b") < "e", "val").otherwise("test"))
      .select(col("doc_id"), col("split"))
    dupClusters(s, dir)
      .join(splits, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("split")).as("n_splits"),
        concat_ws(",", sort_array(collect_set(col("split")))).as("splits"))
      .filter(col("n_splits") > 1)
      .select(col("cluster"), col("n_members"), col("splits"))
      .orderBy(col("cluster"))
  }

  private val q208Sql =
    s"""$dupClusterCtes,
       |sp AS (SELECT doc_id,
       |    CASE WHEN substring(md5(text), 1, 1) < 'c' THEN 'train'
       |         WHEN substring(md5(text), 1, 1) < 'e' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |j AS (SELECT c.cluster, c.doc_id, sp.split
       |      FROM clus c JOIN sp USING (doc_id))
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
       |FROM j GROUP BY cluster HAVING COUNT(DISTINCT split) > 1
       |ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- q209
  // Tokenizer fertility by language: chars-per-token and
  // bytes-per-token over the whitespace tokenization (the q35
  // convention) — the multilingual budgeting metric that says how far
  // a token budget stretches per language (UTF-8-heavy scripts cost
  // more bytes per token; fragmenting tokenizers cost more tokens per
  // char). One map-side projection, one partial-aggregable sum per
  // language; divisions are exact-long ratios, bit-stable on any
  // engine.
  private def q209TokenizerFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("tok"),
        length(col("text")).cast("long").as("ch"),
        octet_length(col("text")).cast("long").as("by"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tokens"),
        (sum(col("ch")).cast("double") / sum(col("tok")))
          .as("chars_per_token"),
        (sum(col("by")).cast("double") / sum(col("tok")))
          .as("bytes_per_token"))
      .orderBy(col("lang"))

  private val q209Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS tokens,
      |  CAST(SUM(length(text)) AS DOUBLE)
      |    / SUM(len(string_split_regex(text, '\s+'))) AS chars_per_token,
      |  CAST(SUM(strlen(text)) AS DOUBLE)
      |    / SUM(len(string_split_regex(text, '\s+'))) AS bytes_per_token
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q186
  // Contrastive training triples (Curation.trainingTriples): q63's
  // near-dup clusters supply the positives (smallest other member),
  // the q84 md5-ranked pool supplies negatives with the anchor's own
  // cluster EXCLUDED — the anti-poisoning detail. Pool broadcast is
  // LIMIT-bounded; the pick is the bounded TopK fold.
  private def q186TrainTriples(s: SparkSession, dir: String): DataFrame =
    Curation.trainingTriples(dupClusters(s, dir), t(s, dir, "documents"),
        "doc_id", 64)
      .orderBy(col("anchor_id"))

  private val q186Sql =
    s"""$dupClusterCtes,
       |pos AS (SELECT a.cluster, a.doc_id AS anchor_id, MIN(b.doc_id) AS pos_id
       |        FROM clus a JOIN clus b
       |          ON a.cluster = b.cluster AND b.doc_id <> a.doc_id
       |        GROUP BY a.cluster, a.doc_id),
       |pool AS (SELECT doc_id AS neg_id FROM documents
       |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
       |cand AS (
       |  SELECT p.anchor_id, p.pos_id, o.neg_id,
       |    row_number() OVER (PARTITION BY p.anchor_id
       |      ORDER BY substring(md5(p.anchor_id || ':' || o.neg_id), 1, 8),
       |               o.neg_id) AS rn
       |  FROM pos p
       |  JOIN pool o ON o.neg_id <> p.anchor_id
       |  LEFT JOIN clus c2 ON c2.doc_id = o.neg_id
       |  WHERE c2.cluster IS NULL OR c2.cluster <> p.cluster)
       |SELECT anchor_id, pos_id, neg_id FROM cand WHERE rn = 1
       |ORDER BY anchor_id""".stripMargin

  // ---------------------------------------------------------------- q64
  // Corpus length distribution: EXACT per-language p50/p90 via
  // row_number selection with pure-integer rank formulas — reproducible
  // on any engine, unlike percentile_approx (the 100 TB path would use
  // the sketch; the oracle-able form is the exact one).
  private def q64LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy(col("lang"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
      .groupBy(col("lang"), col("cnt").as("n_docs"))
      .agg(
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("n_chars"))).as("p50"),
        max(when(col("rn") === expr("(9 * cnt + 9) div 10"), col("n_chars"))).as("p90"))
      .orderBy(col("lang"))
  }

  private val q64Sql =
    """SELECT lang, cnt AS n_docs,
      |  MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS p50,
      |  MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_chars END) AS p90
      |FROM (SELECT lang, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY lang) AS cnt
      |      FROM documents)
      |GROUP BY lang, cnt ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q65
  // Distinctive terms per doc: tf-idf-style score with a rational idf
  // (tf * N / df — no ln, so the score is bit-reproducible), top 2 terms
  // per doc by (score, term). Inverted-index df + broadcast corpus size,
  // window top-k per doc.
  private def q65Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("w"))
    // tf feeds both the df aggregate and the scored join — materialize
    // once (the static planner does not reuse the exchange here)
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("w"))).cast("long"))
      .filter(col("rn") <= 2)
      .select(col("doc_id"), col("w"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private val q65Sql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.w, CAST(tf * n AS DOUBLE) / df AS score
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
      |SELECT doc_id, w, score, rn FROM (
      |  SELECT doc_id, w, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS BIGINT) AS rn
      |  FROM scored)
      |WHERE rn <= 2
      |ORDER BY doc_id, rn""".stripMargin

  // ---------------------------------------------------------------- q66
  // The stream-stream interval join's batch form (same
  // EventStream.clickAttribution transform over a batch frame): clicks
  // joined to the same user's views within the preceding 10 minutes.
  private def q66Attribution(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.clickAttribution(t(s, dir, "events"))
      .select(col("click_id"), col("user_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("c_ts"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("v_ts"))
      .orderBy(col("click_id"), col("v_ts"))

  private val q66Sql =
    """SELECT c.event_id AS click_id, c.user_id,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS c_ts,
      |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS v_ts
      |FROM events c JOIN events v
      |  ON c.user_id = v.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 10 MINUTE
      |ORDER BY click_id, v_ts""".stripMargin

  // ---------------------------------------------------------------- q67
  // Fixed-window token chunking with stride (50-token windows, stride
  // 40 = 10-token overlap) — map-only long-document preparation.
  private def q67Chunking(s: SparkSession, dir: String): DataFrame =
    Curation.chunk(t(s, dir, "documents"), "doc_id", "text", 50, 40)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_tokens"), col("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q67Sql =
    """WITH toksc AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
      |              FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
      |starts AS (
      |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 40)) AS s
      |  FROM toksc)
      |SELECT doc_id,
      |  CAST(s / 40 AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(t, s + 1, s + 50)) AS BIGINT) AS chunk_tokens,
      |  array_to_string(list_slice(t, s + 1, s + 50), ' ') AS chunk
      |FROM starts
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q68
  // Per-language sequence packing into 2048-token bins by running
  // token count (parallel per stratum; see Curation.packSequences).
  private def q68Packing(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(t(s, dir, "documents"), "lang", "doc_id", "text", 2048)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("seq_bin"))
      .orderBy(col("lang"), col("doc_id"))

  private val q68Sql =
    """SELECT lang, doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
      |    OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
      |  CAST((SUM(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
      |    OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - len(string_split_regex(text, '\s+'))) // 2048 AS BIGINT) AS seq_bin
      |FROM documents
      |ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- q45
  // Deterministic dataset split: md5 of the content maps each doc to
  // train/val/test with fixed proportions (12/16 train, 2/16 val,
  // 2/16 test) — reproducible on any engine, stable under re-runs,
  // and content-keyed so exact duplicates land in the same split.
  private def q45Split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("bucket", expr("substring(md5(text), 1, 1)"))
      .withColumn("split",
        when(col("bucket") < "c", "train")
          .when(col("bucket") < "e", "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("split"))

  private val q45Sql =
    """SELECT CASE WHEN substring(md5(text), 1, 1) < 'c' THEN 'train'
      |            WHEN substring(md5(text), 1, 1) < 'e' THEN 'val'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- q46
  // End-to-end curation pipeline: quality gate -> exact-dup removal ->
  // split assignment -> per-(split, lang) accounting. The composition
  // every training-data pipeline runs, as one declarative plan.
  private def q46Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), "\\s+")))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    docs.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("split",
        when(expr("substring(md5(text), 1, 1)") < "c", "train").otherwise("heldout"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  private val q46Sql =
    """WITH gated AS (
      |  SELECT doc_id, lang, text, len(string_split_regex(text, '\s+')) AS n_tokens
      |  FROM documents
      |  WHERE len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000),
      |keep AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text))
      |SELECT CASE WHEN substring(md5(text), 1, 1) < 'c' THEN 'train' ELSE 'heldout' END AS split,
      |  lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
      |FROM gated WHERE doc_id IN (SELECT doc_id FROM keep)
      |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------- q69
  // Regex scrubbing (PII-redaction machinery, demonstrated on stopword
  // boilerplate so the rule fires on the synthetic corpus). Map-only.
  private def q69Scrub(s: SparkSession, dir: String): DataFrame =
    Curation.scrub(t(s, dir, "documents"), "text", Seq("\\b(the|a)\\b"))
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_before"),
        when(col("clean") === "", 0L)
          .otherwise(size(split(col("clean"), "\\s+")).cast("long")).as("n_after"),
        col("clean"))
      .orderBy(col("doc_id"))

  private val q69Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_before,
      |  CASE WHEN clean = '' THEN 0
      |       ELSE CAST(len(string_split_regex(clean, '\s+')) AS BIGINT) END AS n_after,
      |  clean
      |FROM (SELECT doc_id, text,
      |        trim(regexp_replace(regexp_replace(text, '\b(the|a)\b', ' ', 'g'),
      |             '\s+', ' ', 'g')) AS clean
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q70
  // LM-fluency proxy: share of each doc's bigram occurrences that are
  // corpus-supported (total count >= 5). Exact integer counts.
  private def q70KnownBigram(s: SparkSession, dir: String): DataFrame =
    Curation.knownBigramRatio(t(s, dir, "documents"), "doc_id", "text", 5L)
      .orderBy(col("doc_id"))

  private val q70Sql =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
      |  WHERE len(string_split_regex(text, '\s+')) >= 2),
      |occ AS (
      |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, len(toks) - 1)) AS i FROM tk)),
      |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM occ GROUP BY 1, 2),
      |corpus AS (SELECT bg FROM bgc GROUP BY bg HAVING SUM(c) >= 5),
      |totals AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams FROM bgc GROUP BY doc_id),
      |known AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_known
      |          FROM bgc WHERE bg IN (SELECT bg FROM corpus) GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(t.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(k.n_known, 0) AS n_known
      |FROM documents d
      |LEFT JOIN totals t ON d.doc_id = t.doc_id
      |LEFT JOIN known k ON d.doc_id = k.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  // Deterministic mixture resampling to target language weights —
  // map-only hash-threshold filter, no window (see
  // Curation.resampleToMixture).
  private val q71Weights = Map(
    "en" -> 0.25, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.15, "zh" -> 0.2)

  private def q71Mixture(s: SparkSession, dir: String): DataFrame =
    Curation.resampleToMixture(t(s, dir, "documents"), "lang", "doc_id", q71Weights)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))

  private val q71Sql =
    """WITH w(lang, wt) AS (VALUES
      |  ('en', CAST(0.25 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
      |  ('es', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
      |  ('zh', CAST(0.2 AS DOUBLE))),
      |counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |caps AS (SELECT c.lang, w.wt, c.cnt,
      |           CAST(c.cnt AS DOUBLE) / w.wt AS cap
      |         FROM counts c JOIN w ON c.lang = w.lang),
      |nstar AS (SELECT MIN(cap) AS ns FROM caps),
      |rates AS (SELECT lang, wt * ns / CAST(cnt AS DOUBLE) AS rate FROM caps, nstar)
      |SELECT d.lang, COUNT(*) AS n_kept
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE r.rate >= 1.0
      |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
      |      lpad(lower(hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q72
  // Deterministic training-shard assignment (md5-derived, engine-
  // portable) + per-shard balance audit.
  private def q72Shards(s: SparkSession, dir: String): DataFrame =
    Curation.shardAssign(t(s, dir, "documents"), "doc_id", 8)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("shard"))

  private val q72Sql =
    """SELECT CAST((instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |     + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS INTEGER) % 8 AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(DISTINCT lang) AS n_langs
      |FROM documents
      |GROUP BY 1 ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q73
  // Exact k-NN join: top-10 corpus neighbors for each of 5 query
  // vectors at once, via the bounded TopK partial aggregator (shuffle
  // is O(queries x k), never the scored cross product).
  private def q73KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.knnJoin(emb.filter(col("vec_id") >= 5),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  private val q73Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM c, q),
      |ranked AS (
      |  SELECT query_id, vec_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
      |  FROM scored)
      |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 10
      |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  // --------------------------------------------------------------- q182
  // Hard-negative mining (Similarity.hardNegatives): for each anchor of
  // the q73 query split, the 5 most similar corpus vectors still BELOW
  // the near-positive threshold — the contrastive-training negatives
  // step. Anchors broadcast (batch-sized by premise, the q73 seed-set
  // family); the corpus streams through the map-side threshold filter
  // into the bounded TopK aggregate.
  private def q182HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb.filter(col("vec_id") >= 5),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 0.25, 5)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  private val q182Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM c, q),
      |ranked AS (
      |  SELECT query_id, vec_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
      |  FROM scored WHERE sim < 0.25)
      |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 5
      |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  // --------------------------------------------------------------- q183
  // Class-based TF-IDF keywords (Curation.classTfidf, the BERTopic
  // c-TF-IDF shape): the 5 terms most distinctive of each language —
  // the dataset-card label line. Rational idf, bit-reproducible.
  private def q183ClassKeywords(s: SparkSession, dir: String): DataFrame =
    Curation.classTfidf(t(s, dir, "documents"), "lang", "text", 5)
      .orderBy(col("lang"), col("rn"))

  private val q183Sql =
    """WITH words AS (
      |  SELECT lang, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tfc AS (SELECT lang, w, COUNT(*) AS tf FROM words
      |        WHERE length(w) > 0 GROUP BY lang, w),
      |ft AS (SELECT w, SUM(tf) AS ft FROM tfc GROUP BY w),
      |total AS (SELECT SUM(tf) AS t FROM tfc),
      |scored AS (
      |  SELECT lang, tfc.w, CAST(tf * t AS DOUBLE) / ft AS score
      |  FROM tfc JOIN ft USING (w), total),
      |ranked AS (
      |  SELECT lang, w, score,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, w)
      |         AS BIGINT) AS rn
      |  FROM scored)
      |SELECT lang, w, score, rn FROM ranked WHERE rn <= 5
      |ORDER BY lang, rn""".stripMargin

  // --------------------------------------------------------------- q185
  // Weighted sampling without replacement (Curation.weightedSample,
  // Efraimidis–Spirakis): 50 docs drawn proportional to n_chars via
  // the deterministic integer-hash uniform — the quality-weighted
  // subsample step. Map-only key, TakeOrderedAndProject top-n.
  private def q185WeightedSample(s: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 50)
      .orderBy(col("skey").desc, col("doc_id"))

  private val q185Sql =
    """WITH k AS (
      |  SELECT doc_id, n_chars,
      |    round(ln(CAST((doc_id * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
      |          / CAST(n_chars AS DOUBLE), 6) AS skey
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, n_chars, skey FROM k
      |ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q192
  // Bitext mining by margin score (the LASER/CCMatrix criterion,
  // forward direction): for each English anchor, its best German
  // candidate scored as cos / mean(top-k cos) — the ratio margin that
  // separates true translations from hubs that are merely close to
  // everything. Anchors are an id-bounded seed batch (the q73
  // broadcast shape); candidate scoring streams the target-language
  // corpus through the bounded TopK; the margin folds over the k-row
  // per-anchor frame with a decimal-stable mean.
  private def q192BitextMargin(s: SparkSession, dir: String): DataFrame = {
    val withLang = t(s, dir, "embeddings").join(
      t(s, dir, "documents").select(col("doc_id").as("vec_id"), col("lang")),
      Seq("vec_id"))
    val anchors = withLang.filter(col("lang") === "en" && col("vec_id") < 20)
    val corpusB = withLang.filter(col("lang") === "de")
    Similarity.knnJoin(corpusB.select(col("vec_id"), col("embedding")),
        anchors.select(col("vec_id"), col("embedding")), "vec_id", "embedding", 4)
      .groupBy(col("query_id"))
      .agg(
        max(struct(col("sim"), (-col("vec_id")).as("nid"))).as("b"),
        round(sum(col("sim").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("denom"))
      .select(col("query_id"), (-col("b.nid")).as("vec_id"),
        col("b.sim").as("sim"),
        round(col("b.sim") / col("denom"), 6).as("margin"))
      .orderBy(col("query_id"))
  }

  private val q192Sql =
    s"""WITH wl AS (
       |  SELECT e.vec_id, e.embedding, d.lang
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |      FROM wl WHERE lang = 'en' AND vec_id < 20),
       |c AS (SELECT vec_id, embedding FROM wl WHERE lang = 'de'),
       |scored AS (
       |  SELECT q.query_id, c.vec_id,
       |    ${cosSql("c.embedding", "q.qv")} AS sim
       |  FROM c, q WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored),
       |top AS (SELECT * FROM ranked WHERE rn <= 4),
       |agg AS (SELECT query_id,
       |    round(CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
       |      AS denom
       |  FROM top GROUP BY query_id),
       |best AS (SELECT query_id, vec_id, sim FROM top WHERE rn = 1)
       |SELECT b.query_id, b.vec_id, b.sim, round(b.sim / a.denom, 6) AS margin
       |FROM best b JOIN agg a USING (query_id) ORDER BY b.query_id""".stripMargin

  // --------------------------------------------------------------- q193
  // Positional phrase search (Curation.phraseSearch): docs containing
  // the exact token sequence "table scan" with occurrence counts —
  // the adjacency query BM25's bag-of-words index can't answer. Each
  // term's filter reaches the scan; joins are postings-sized.
  private def q193PhraseIndex(s: SparkSession, dir: String): DataFrame =
    Curation.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("table", "scan"))
      .orderBy(col("doc_id"))

  private val q193Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    len(list_filter(range(1, len(toks)),
      |      i -> toks[i] = 'table' AND toks[i + 1] = 'scan')) AS n_occurrences
      |  FROM t)
      |SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
      |FROM m WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q196
  // Robust winnowing fingerprints (Dedup.winnow, MOSS SIGMOD'03):
  // positional 4-gram hashes, window-of-8 minima with leftmost-min
  // tie-break — the coverage-guaranteed fingerprint set q36's min/max
  // sampling cannot give. Per-doc windows only; output fingerprint-
  // sized (~2/(w+1) of grams).
  private def q196Winnow(s: SparkSession, dir: String): DataFrame =
    Dedup.winnow(t(s, dir, "documents"), "doc_id", "text", 4, 8)
      .orderBy(col("doc_id"), col("pos"))

  private val q196Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |           FROM documents
      |           WHERE len(string_split_regex(text, '\s+')) >= 11),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |        md5(array_to_string(list_slice(toks, i, i + 3), ' ')) AS h,
      |        len(toks) - 3 AS ng
      |      FROM (SELECT doc_id, toks,
      |              unnest(generate_series(1, len(toks) - 3)) AS i
      |            FROM t)),
      |sel AS (SELECT doc_id, pos, ng,
      |          min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
      |            OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS s
      |        FROM g)
      |SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp,
      |  CAST(substr(s, 33, 10) AS BIGINT) AS pos
      |FROM sel WHERE pos <= ng - 8 ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------- q197
  // DSIR importance resampling score (Curation.dsirScore): hashed-
  // unigram log p_target/p_raw with lang='en' as the target set —
  // the distribution-matching data selector. 256-bucket md5 features,
  // decimal-stable per-doc fold, model broadcast.
  private def q197Dsir(s: SparkSession, dir: String): DataFrame =
    Curation.dsirScore(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
      .orderBy(col("doc_id"))

  private val q197Sql =
    """WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0)) AS w
      |  FROM documents),
      |occ AS (SELECT doc_id, tgt, substr(md5(w), 1, 2) AS b, COUNT(*) AS k
      |        FROM w GROUP BY doc_id, tgt, b),
      |bk AS (SELECT b, SUM(k) AS cr,
      |         SUM(CASE WHEN tgt THEN k ELSE 0 END) AS ct
      |       FROM occ GROUP BY b),
      |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM bk),
      |lw AS (SELECT b,
      |         CAST(round(ln(((ct + 1) / CAST(nt + 256 AS DOUBLE)) /
      |                       ((cr + 1) / CAST(nr + 256 AS DOUBLE))), 6)
      |              AS DECIMAL(28,6)) AS lw
      |       FROM bk CROSS JOIN tot)
      |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_toks,
      |  CAST(SUM(lw * k) AS DOUBLE) AS log_weight,
      |  CAST(SUM(lw * k) AS DOUBLE) > 0 AS selected
      |FROM occ JOIN lw USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q198
  // JSONL corpus round-trip (sources/JsonlCorpus): documents written
  // as one-object-per-line, read back under an EXPLICIT schema (no
  // inference pass) with two planted malformed lines ROUTED to the
  // rejects frame — the quarantine discipline of the reference's
  // GAF/GFF3 invalid-row logging on the format web corpora ship in.
  private def q198Jsonl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import s.implicits._
    val tmp = scratch("q198", dir) + "/docs_jsonl"
    graft.sources.JsonlCorpus.write(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")), tmp)
    Seq("{\"doc_id\": oops", "[3, 4").toDF("value")
      .coalesce(1).write.mode("append").text(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    val (valid, rejects) = graft.sources.JsonlCorpus.read(s, tmp, schema)
    valid.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .unionByName(rejects
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("_rejected").as("lang"), col("n_docs"),
          lit(null).cast("long").as("sum_chars")))
      .orderBy(col("lang"))
  }

  private val q198Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang
      |UNION ALL
      |SELECT '_rejected', CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
      |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q199
  // Zipf power-law fit (Curation.zipfFit): least-squares slope of
  // ln(freq) vs ln(rank) over the top-200 token shortlist — the
  // standard corpus-health diagnostic (natural text ≈ -1; synthetic /
  // boilerplate-heavy corpora drift). Rank rides a LIMIT-bounded
  // 200-row frame; regression terms are 6-decimal DECIMALs so the fold
  // is order-independent and the closed-form slope is engine-exact.
  private def q199Zipf(s: SparkSession, dir: String): DataFrame =
    Curation.zipfFit(t(s, dir, "documents"), "text", topRanks = 200)

  private val q199Sql =
    """WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                  x -> length(x) > 0)) AS w FROM documents),
      |tf AS (SELECT w, COUNT(*) AS f FROM w GROUP BY w),
      |top AS (SELECT w, f FROM tf ORDER BY f DESC, w LIMIT 200),
      |r AS (SELECT
      |    CAST(round(ln(CAST(row_number() OVER (ORDER BY f DESC, w) AS DOUBLE)), 6)
      |         AS DECIMAL(10,6)) AS x,
      |    CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(10,6)) AS y
      |  FROM top),
      |s AS (SELECT CAST(COUNT(*) AS DECIMAL(4,0)) AS n,
      |             CAST(SUM(x) AS DECIMAL(10,6)) AS sx,
      |             CAST(SUM(y) AS DECIMAL(10,6)) AS sy,
      |             CAST(SUM(x*x) AS DECIMAL(17,12)) AS sxx,
      |             CAST(SUM(x*y) AS DECIMAL(17,12)) AS sxy FROM r),
      |f2 AS (SELECT n, sx, sy,
      |         n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM s)
      |SELECT CAST(n AS BIGINT) AS n_ranks,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope,
      |  round(CAST(sy*den - num*sx AS DOUBLE) / CAST(n*den AS DOUBLE), 6)
      |    AS intercept
      |FROM f2""".stripMargin

  // --------------------------------------------------------------- q200
  // Consistent hash-threshold sampling (Curation.consistentSample):
  // membership is a pure function of the id, so the sample is stable
  // across runs, machines, and corpus growth — the property rand()
  // sampling lacks, and what makes eval holdouts reproducible.
  // Map-only; first hex digit '0' ≈ 1/16 of the corpus.
  private def q200Sample(s: SparkSession, dir: String): DataFrame =
    Curation.consistentSample(t(s, dir, "documents"), "doc_id", 1, "1")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q200Sql =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '1'
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q202
  // Fractional-epoch corpus expansion (Curation.epochExpand): the
  // trainer-input mixing step as rows — en 2.25 epochs, es 3, zh 1,
  // de 0.5, fr absent (excluded). Fractional membership is an
  // md5-threshold function of the doc id, so the expansion is
  // bit-reproducible; the strata lookup rides a broadcast join and the
  // explode is map-side.
  private val q202Epochs =
    Map("en" -> 2.25, "zh" -> 1.0, "de" -> 0.5, "es" -> 3.0)

  private def q202EpochMix(s: SparkSession, dir: String): DataFrame =
    Curation.epochExpand(t(s, dir, "documents"), "doc_id", "lang", q202Epochs)
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  private val q202Sql = {
    val rows = q202Epochs.toSeq.sortBy(_._1).map { case (g, w) =>
      val full = math.floor(w).toLong
      s"('$g', $full, '${f"${((w - full) * 4294967296.0).toLong}%08x"}')"
    }.mkString(", ")
    s"""WITH lk AS (SELECT * FROM (VALUES $rows) v(lang, fulln, cut)),
       |j AS (SELECT d.doc_id, d.lang, fulln +
       |        CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < cut
       |             THEN 1 ELSE 0 END AS n_copies
       |      FROM documents d JOIN lk USING (lang))
       |SELECT doc_id, lang, CAST(u AS BIGINT) AS epoch
       |FROM (SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS u
       |      FROM j WHERE n_copies > 0)
       |ORDER BY doc_id, epoch""".stripMargin
  }

  // ---------------------------------------------------------------- q74
  // Segment-level exact dedup: 10-token windows, first occurrence by
  // (doc_id, idx) kept, repeats flagged — per-doc audit counts.
  private def q74SegmentDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text", 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("dup"), 1).otherwise(0)).cast("long").as("n_dup"))
      .orderBy(col("doc_id"))

  private val q74Sql =
    """WITH toksc AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
      |              FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
      |starts AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 10)) AS s
      |           FROM toksc),
      |segs AS (SELECT doc_id, s // 10 AS seg_idx,
      |           md5(array_to_string(list_slice(t, s + 1, s + 10), ' ')) AS h
      |         FROM starts),
      |flagged AS (SELECT doc_id, seg_idx,
      |              row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) > 1 AS dup
      |            FROM segs)
      |SELECT doc_id, COUNT(*) AS n_segments,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q75
  // Stateless similarity gate: argmax cosine over 5 driver-held query
  // vectors as one codegen'd projection (no join/agg — the identical
  // plan runs over a stream in append mode; see
  // Similarity.similarityGate).
  private def q75SimGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    Similarity.similarityGate(emb.filter(col("vec_id") >= 5), queries,
        "embedding", 0.2)
      .select(col("vec_id"), col("best_query"), col("sim"))
      .orderBy(col("vec_id"))
  }

  private val q75Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
      |scored AS (
      |  SELECT c.vec_id, q.qid,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM c, q),
      |best AS (
      |  SELECT vec_id, qid AS best_query, sim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, qid) AS rn
      |  FROM scored)
      |SELECT vec_id, best_query, sim FROM best
      |WHERE rn = 1 AND sim >= 0.2
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q80
  // Metadata-filtered ANN (the pre-filter retrieval shape): restrict
  // the corpus by a metadata predicate BEFORE scoring — only matching
  // vectors are ever touched, vs post-filtering a top-k that may then
  // come up short. The metadata side arrives via a semi-join (broadcast
  // at dimension size, bucketed co-location at fact size).
  private def q80FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val en = t(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id"))
    // the language slice can be MOST of the corpus (en usually is) —
    // no forced broadcast; AQE decides from runtime stats
    val filtered = emb.join(en,
      col("vec_id") === col("doc_id"), "left_semi")
    val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    Similarity.withCosine(filtered.filter(col("vec_id") =!= 0L), qv, "embedding")
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(15)
  }

  private val q80Sql =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |c AS (SELECT vec_id, embedding FROM embeddings
      |      WHERE vec_id <> 0
      |        AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
      |scored AS (
      |  SELECT vec_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(embedding)),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(qv)),
      |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM c, q)
      |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q94
  // Exact duplicate-SPAN audit (Lee et al. exact-substring dedup,
  // windowed): 20-token sliding windows whose hash occurs in >= 2 docs,
  // with per-doc span and covered-token counts. Linear in tokens: each
  // position starts one span; the only shuffles key on the span hash
  // and on (doc, position).
  private def q94DupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.duplicateSpans(t(s, dir, "documents"),
        "doc_id", "text", 20)
      .orderBy(col("doc_id"))

  private val q94Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
      |  WHERE len(string_split_regex(text, '\s+')) >= 20),
      |spans AS (
      |  SELECT doc_id, i, md5(array_to_string(t[i:i+19], ' ')) AS sp
      |  FROM (SELECT doc_id, t,
      |          unnest(generate_series(1, len(t) - 19)) AS i FROM toks)),
      |duph AS (SELECT sp FROM spans GROUP BY sp
      |         HAVING COUNT(DISTINCT doc_id) >= 2),
      |dup AS (SELECT s.doc_id, s.i FROM spans s JOIN duph d ON s.sp = d.sp),
      |pds AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM dup GROUP BY doc_id),
      |cov AS (SELECT doc_id, COUNT(*) AS n_dup_tokens FROM (
      |  SELECT DISTINCT doc_id, tp FROM dup,
      |    LATERAL (SELECT unnest(generate_series(i, i + 19)) AS tp))
      |  GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |  COALESCE(pds.n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(cov.n_dup_tokens, 0) AS n_dup_tokens,
      |  round(CAST(COALESCE(cov.n_dup_tokens, 0) AS DOUBLE) / len(t.t), 6)
      |    AS dup_frac
      |FROM toks t
      |LEFT JOIN pds ON pds.doc_id = t.doc_id
      |LEFT JOIN cov ON cov.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  // Linear classifier inference (fasttext-style quality scorer): the
  // model is a broadcast weight table + bias; scoring is a map-side
  // join and one decimal-exact per-doc sum, sigmoid at the end.
  private val q95Weights = Seq(
    "the" -> 0.12, "of" -> 0.08, "and" -> 0.07, "data" -> -0.31,
    "click" -> -0.64, "free" -> -0.52, "genome" -> 0.45, "cell" -> 0.29)

  private def q95ClassifierScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.linearScore(t(s, dir, "documents"),
        "doc_id", "text", q95Weights, bias = -0.2)
      .orderBy(col("doc_id"))

  private val q95Sql = {
    val values = q95Weights
      .map { case (t, w) => s"('$t', ${w})" }.mkString(", ")
    s"""WITH w(tok, weight) AS (VALUES $values),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS n_hits,
       |    CAST(SUM(CAST(w.weight AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS wsum
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents) x
       |  JOIN w ON w.tok = x.tok
       |  GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  round(1.0 / (1.0 + exp(-(-0.2 +
       |    CAST(COALESCE(h.wsum, 0) AS DOUBLE)))), 6) AS score
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q96
  // Semantic dedup (SemDeDup): one representative per IVF cell, members
  // whose cosine to their representative clears the threshold are
  // flagged. Candidate set is linear (cell-local), never all-pairs.
  private def q96SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.semanticDedup(emb, "vec_id", "embedding",
        Similarity.trainIvf(emb, "vec_id", "embedding", 8), threshold = 0.35)
      .orderBy(col("vec_id"))
  }

  private val q96Sql =
    s"""WITH $ivfCtes,
       |reps AS (SELECT cell, MIN(vid) AS rep_id FROM a1 GROUP BY cell),
       |repv AS (SELECT r.cell, r.rep_id, a.ev AS rv
       |         FROM reps r JOIN a1 a ON a.vid = r.rep_id),
       |scored AS (
       |  SELECT a.vid AS vec_id, a.cell, r.rep_id,
       |    ${cosSql("a.ev", "r.rv")} AS sim
       |  FROM a1 a JOIN repv r ON a.cell = r.cell)
       |SELECT vec_id, cell, rep_id, sim,
       |  (vec_id <> rep_id AND sim >= 0.35) AS is_dup
       |FROM scored ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q97
  // Char-bigram LM quality score (CCNet-style perplexity proxy): train
  // an add-one-smoothed bigram model on the corpus in-plan, score every
  // document by mean log-probability. Model = vocabulary-sized
  // broadcast table; both passes are map-heavy.
  private def q97LmScore(s: SparkSession, dir: String): DataFrame =
    Curation.lmScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q97Sql =
    """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2),
      |bg AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS bg
      |       FROM t, unnest(generate_series(1, length(t) - 1)) AS u(i)),
      |m AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
      |tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM m),
      |lp AS (SELECT bg,
      |         CAST(round(ln((c + 1) / CAST(n + v AS DOUBLE)), 6) AS DECIMAL(28,6)) AS logp
      |       FROM m CROSS JOIN tot)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
      |FROM bg JOIN lp USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q148
  // CCNet head/middle/tail perplexity bucketing (Curation.lmBuckets):
  // the q97 bigram-LM scores split at their exact 0.25/0.75 quantiles
  // (binary-exact literals, so both engines interpolate identically);
  // thresholds broadcast in-plan, classification map-side.
  private def q148LmBuckets(s: SparkSession, dir: String): DataFrame =
    Curation.lmBuckets(t(s, dir, "documents"), "doc_id", "text")

  private val q148Sql =
    """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2),
      |bg AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS bg
      |       FROM t, unnest(generate_series(1, length(t) - 1)) AS u(i)),
      |m AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
      |tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM m),
      |lp AS (SELECT bg,
      |         CAST(round(ln((c + 1) / CAST(n + v AS DOUBLE)), 6) AS DECIMAL(28,6)) AS logp
      |       FROM m CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
      |  FROM bg JOIN lp USING (bg) GROUP BY doc_id),
      |th AS (SELECT quantile_cont(avg_logp, 0.25) AS t1,
      |              quantile_cont(avg_logp, 0.75) AS t2 FROM scored)
      |SELECT CASE WHEN avg_logp >= t2 THEN 'head'
      |            WHEN avg_logp >= t1 THEN 'middle'
      |            ELSE 'tail' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(avg_logp AS DECIMAL(28,6))) AS DOUBLE) AS sum_logp
      |FROM scored CROSS JOIN th
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q98
  // BPE training round statistics: frequency-weighted adjacent
  // character-pair counts over the word dictionary — the aggregation
  // every merge round of tokenizer training runs (operators/Bpe.learn);
  // top pair = the first learned merge rule.
  private def q98BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.wordDict(t(s, dir, "documents"), "text"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(50)

  private val q98Sql =
    """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents),
      |wd AS (SELECT word, COUNT(*) AS n FROM w WHERE length(word) > 0 GROUP BY word),
      |p AS (SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
      |             substr(word, CAST(i AS INTEGER) + 1, 1) AS b, n
      |      FROM wd, unnest(generate_series(1, length(word) - 1)) AS u(i))
      |SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt
      |FROM p GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q100
  // Unicode NFC normalization via the codegen'd
  // [[graft.functions.UnicodeNormalize]] expression vs DuckDB's
  // nfc_normalize. The corpus text is ASCII-heavy (the fast path), so
  // the probe suffixes a decomposed e+U+0301 and an ﬁ ligature onto
  // every row: NFC must compose the accent but keep the compatibility
  // ligature, exercising the real normalizer on every row.
  private def q100Normalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.UnicodeNormalize(
          concat(substring(col("text"), 1, 24), lit(" e\u0301\ufb01") /* e + combining acute, fi ligature */),
          "NFC").as("norm"))
      .withColumn("n_cp", length(col("norm")))
      .orderBy(col("doc_id"))

  private val q100Sql =
    "SELECT doc_id, nfc_normalize(substr(text, 1, 24) || ' e' || chr(769) || chr(64257)) AS norm, " +
      "CAST(length(nfc_normalize(substr(text, 1, 24) || ' e' || chr(769) || chr(64257))) AS INTEGER) AS n_cp " +
      "FROM documents ORDER BY doc_id"

  // --------------------------------------------------------------- q101
  // Product-quantization ADC ranking (operators/Similarity.pqTopK): two
  // 32-dim subspaces, an 8-centroid codebook each (the deterministic
  // one-Lloyd-step recipe per subspace), vectors reduced to 2 codes,
  // query scored via summed lookup-table distances. m=2 keeps the
  // cross-engine float story trivial (fp addition of two terms is
  // commutative); the operator itself takes any m.
  private def q101PqAdc(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, m = 2, k = 8, topK = 10)

  private val q101Sql = {
    def l2(a: String, b: String) = l2Sql(a, b)
    s"""WITH subv AS (
       |  SELECT vec_id, j, embedding[j*32+1 : (j+1)*32] AS sv
       |  FROM embeddings, unnest(generate_series(0, 1)) AS u(j)),
       |init AS (
       |  SELECT j, CAST(vec_id AS INTEGER) AS cid, sv AS cv
       |  FROM subv WHERE vec_id < 8),
       |d0 AS (
       |  SELECT s.vec_id AS vid, s.j, i.cid, ${l2("s.sv", "i.cv")} AS d2
       |  FROM subv s JOIN init i ON s.j = i.j),
       |a0 AS (SELECT vid, j, cell0 FROM (
       |  SELECT vid, j, cid AS cell0,
       |         row_number() OVER (PARTITION BY vid, j ORDER BY d2, cid) AS rn
       |  FROM d0) WHERE rn = 1),
       |dims AS (
       |  SELECT a0.j, a0.cell0,
       |    unnest(generate_series(1, len(s.sv))) AS i,
       |    unnest(list_transform(s.sv, x -> CAST(x AS DOUBLE))) AS x
       |  FROM subv s JOIN a0 ON s.vec_id = a0.vid AND s.j = a0.j),
       |c1 AS (SELECT j, cell0 AS cid, list(m ORDER BY i) AS cv FROM (
       |  SELECT j, cell0, i, round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM dims GROUP BY j, cell0, i) GROUP BY j, cell0),
       |enc AS (SELECT vid, j, code FROM (
       |  SELECT s.vec_id AS vid, s.j, c.cid AS code,
       |         row_number() OVER (PARTITION BY s.vec_id, s.j
       |                            ORDER BY ${l2("s.sv", "c.cv")}, c.cid) AS rn
       |  FROM subv s JOIN c1 c ON s.j = c.j) WHERE rn = 1),
       |lut AS (
       |  SELECT c.j, c.cid, round(${l2("q.sv", "c.cv")}, 6) AS dd
       |  FROM c1 c JOIN subv q ON q.j = c.j AND q.vec_id = 0),
       |scored AS (
       |  SELECT e.vid AS vec_id, round(SUM(l.dd), 6) AS adist
       |  FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.cid
       |  WHERE e.vid <> 0 GROUP BY e.vid)
       |SELECT vec_id, adist FROM scored ORDER BY adist, vec_id LIMIT 10""".stripMargin
  }

  // --------------------------------------------------------------- q147
  // Paragraph-dedup reassembly (Dedup.reassembleDeduped): q74 flags
  // aligned duplicate segments; this row rebuilds each document from
  // its SURVIVING segments in order — the CCNet drop-repeated-
  // paragraphs shape end-to-end, with the rebuilt text itself
  // hash-checked against the oracle's ordered string_agg.
  private def q147Reassemble(s: SparkSession, dir: String): DataFrame =
    Dedup.reassembleDeduped(
        Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text", 10))
      .orderBy(col("doc_id"))

  private val q147Sql =
    """WITH toksc AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
      |              FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
      |starts AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 10)) AS s
      |           FROM toksc),
      |segs AS (SELECT doc_id, s // 10 AS seg_idx,
      |           array_to_string(list_slice(t, s + 1, s + 10), ' ') AS seg
      |         FROM starts),
      |flagged AS (SELECT doc_id, seg_idx, seg,
      |              row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) > 1 AS dup
      |            FROM segs)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY seg_idx) AS text
      |FROM flagged
      |GROUP BY doc_id
      |HAVING SUM(CASE WHEN NOT dup THEN 1 ELSE 0 END) > 0
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q155
  // Dataset card: the one-row corpus summary every published dataset
  // ships — volume, token count, language/source spread, exact-dup
  // rate, length spread. One scan plus dimension-sized aggregates;
  // the decimal-exact mean keeps the card bit-stable cross-engine.
  private def q155DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
      (sum(col("n_tokens")).cast("double") / count(lit(1))).as("mean_tokens"),
      min(col("n_tokens")).as("min_tokens"),
      max(col("n_tokens")).as("max_tokens"))
  }

  private val q155Sql =
    """SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
      |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens,
      |  CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
      |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
      |FROM (SELECT doc_id, lang, source,
      |        len(string_split_regex(text, '\s+')) AS n_tokens,
      |        md5(text) AS h
      |      FROM documents)""".stripMargin

  // --------------------------------------------------------------- q154
  // LSH recall eval (Dedup.lshRecall): of the exact-Jaccard >= 0.5
  // true pairs (df-capped, the q29 recipe), the fraction the q28 band
  // geometry surfaced — with q152's precision, the full tuning dial.
  private def q154LshRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.lshRecall(t(s, dir, "documents"), "doc_id", "text",
      n = 3, numHashes = 8, rowsPerBand = 4, jaccardThreshold = 0.5)

  private val q154Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |rare AS (SELECT * FROM sh WHERE s IN (
       |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truep AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |keep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |         HAVING COUNT(*) <= 1000),
       |kb AS (SELECT bands.* FROM bands JOIN keep USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM kb a JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
       |                   AND a.doc_id < b.doc_id),
       |found AS (SELECT t.* FROM truep t
       |          JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |SELECT (SELECT COUNT(*) FROM truep) AS n_true,
       |  (SELECT COUNT(*) FROM found) AS n_found,
       |  CASE WHEN (SELECT COUNT(*) FROM truep) > 0
       |       THEN round(CAST((SELECT COUNT(*) FROM found) AS DOUBLE) /
       |                  (SELECT COUNT(*) FROM truep), 6) END AS recall""".stripMargin
  }

  // --------------------------------------------------------------- q153
  // Character-entropy quality gate (Curation.charEntropy): Shannon
  // entropy over per-doc char frequencies, decimal-summed pre-rounded
  // terms (order-insensitive fold, the q97 discipline).
  private def q153CharEntropy(s: SparkSession, dir: String): DataFrame =
    Curation.charEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q153Sql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch
      |       WHERE length(ch) > 0 GROUP BY doc_id, ch),
      |wn AS (SELECT doc_id, ch, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM cc),
      |terms AS (SELECT doc_id, n,
      |    CAST(round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n) / ln(2), 6)
      |         AS DECIMAL(28,6)) AS term
      |  FROM wn)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
      |  round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q151
  // Flesch-Kincaid readability (Curation.readability): vowel-group
  // syllable heuristic, [.!?]-split sentences floored at 1 — the
  // surface-form quality grade, map-only.
  private def q151Readability(s: SparkSession, dir: String): DataFrame =
    Curation.readability(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q151Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)) AS n_words,
      |    greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
      |      s -> length(trim(s)) > 0)), 1) AS n_sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_sentences AS BIGINT) AS n_sentences,
      |  CAST(n_syllables AS BIGINT) AS n_syllables,
      |  round(0.39 * CAST(n_words AS DOUBLE) / n_sentences +
      |        11.8 * CAST(n_syllables AS DOUBLE) / n_words - 15.59, 6) AS fk_grade
      |FROM f WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q152
  // LSH tuning eval (Dedup.lshPrecision): of the q28 candidate pairs,
  // the fraction that clear exact shingle Jaccard 0.5 — the precision
  // dial for (numHashes, rowsPerBand) before a corpus-wide run. Exact
  // Jaccard runs over CANDIDATE pairs only.
  private def q152LshPrecision(s: SparkSession, dir: String): DataFrame =
    Dedup.lshPrecision(t(s, dir, "documents"), "doc_id", "text",
      n = 3, numHashes = 8, rowsPerBand = 4, jaccardThreshold = 0.5)

  private val q152Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |keep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |         HAVING COUNT(*) <= 1000),
       |kb AS (SELECT bands.* FROM bands JOIN keep USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM kb a JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
       |                   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |         (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)) AS jac
       |  FROM cand c
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b)
       |SELECT COUNT(*) AS n_candidates,
       |  CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CASE WHEN COUNT(*) > 0
       |       THEN round(CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |                  / COUNT(*), 6) END AS precision
       |FROM jac""".stripMargin
  }

  // --------------------------------------------------------------- q150
  // k-NN label propagation (Similarity.knnClassify): vectors with
  // vec_id < 250 are the hand-labeled seed set; every other vector
  // gets the majority label of its 5 nearest seeds — the
  // label-bootstrapping step of semi-supervised corpus annotation,
  // checked with per-row predictions AND correctness against the
  // held-out true labels.
  private def q150KnnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val labeled = emb.filter(col("vec_id") < 250)
    val unlabeled = emb.filter(col("vec_id") >= 250)
    Similarity.knnClassify(labeled, unlabeled,
        "vec_id", "embedding", "label", k = 5)
      .withColumnRenamed("label", "pred_label")
      .join(unlabeled.select(col("vec_id"), col("label").as("true_label")),
        Seq("vec_id"))
      .withColumn("correct", col("pred_label") === col("true_label"))
      .orderBy(col("vec_id"))
  }

  private val q150Sql =
    s"""WITH l AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 250),
       |u AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 250),
       |nn AS (SELECT qid, clabel FROM (
       |  SELECT u.vec_id AS qid, l.vec_id AS cid, l.label AS clabel,
       |    row_number() OVER (PARTITION BY u.vec_id
       |                       ORDER BY ${cosSql("l.embedding", "u.embedding")} DESC, l.vec_id) AS rn
       |  FROM u CROSS JOIN l) WHERE rn <= 5),
       |votes AS (SELECT qid, clabel, COUNT(*) AS votes FROM nn GROUP BY qid, clabel),
       |best AS (SELECT qid, clabel, votes FROM (
       |  SELECT qid, clabel, votes,
       |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, clabel) AS vr
       |  FROM votes) WHERE vr = 1)
       |SELECT b.qid AS vec_id, b.clabel AS pred_label, b.votes,
       |  u.label AS true_label, b.clabel = u.label AS correct
       |FROM best b JOIN u ON u.vec_id = b.qid
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q149
  // Matryoshka prefix search (Similarity.truncateNormalize): embeddings
  // truncated to their first 16 dims and re-normalized, then the exact
  // cosine top-10 for query 0 in the REDUCED space — the MRL cheap
  // pre-filter whose survivors a full-dimension pass would re-rank.
  private def q149Matryoshka(s: SparkSession, dir: String): DataFrame =
    // the null filter mirrors the oracle's WHERE nm > 0: a zero-norm
    // prefix is unrankable and must not ride into the top-k as null sim
    Similarity.cosineTopK(
      Similarity.truncateNormalize(t(s, dir, "embeddings"), "embedding", 16)
        .filter(col("embedding").isNotNull),
      "vec_id", "embedding", queryId = 0L, k = 10)

  private val q149Sql =
    s"""WITH tr AS (
       |  SELECT vec_id,
       |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
       |  FROM embeddings),
       |n AS (SELECT vec_id, t,
       |        sqrt(list_sum(list_transform(t, x -> x * x))) AS nm FROM tr),
       |u AS (SELECT vec_id, list_transform(t, x -> round(x / nm, 6)) AS e
       |      FROM n WHERE nm > 0),
       |q AS (SELECT e AS qv FROM u WHERE vec_id = 0)
       |SELECT u.vec_id, ${cosSql("u.e", "q.qv")} AS sim
       |FROM u CROSS JOIN q WHERE u.vec_id <> 0
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q157
  // Two-stage matryoshka serve (Similarity.mrlTopK): q149's 16-dim
  // prefix scan shortlists 20 candidates, and ONLY those are re-ranked
  // at full dimension — the documented MRL serving recipe (cheap
  // prefilter + exact re-rank), composed as one operator. The full-dim
  // corpus is never scored; stage two rides a LIMIT-bounded broadcast
  // semi-join.
  private def q157MrlRerank(s: SparkSession, dir: String): DataFrame =
    Similarity.mrlTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, prefixDims = 16, shortlist = 20, k = 10)

  private val q157Sql =
    s"""WITH tr AS (
       |  SELECT vec_id,
       |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
       |  FROM embeddings),
       |n AS (SELECT vec_id, t,
       |        sqrt(list_sum(list_transform(t, x -> x * x))) AS nm FROM tr),
       |u AS (SELECT vec_id, list_transform(t, x -> round(x / nm, 6)) AS e
       |      FROM n WHERE nm > 0),
       |q AS (SELECT e AS qv FROM u WHERE vec_id = 0),
       |short AS (
       |  SELECT u.vec_id, ${cosSql("u.e", "q.qv")} AS psim
       |  FROM u CROSS JOIN q WHERE u.vec_id <> 0
       |  ORDER BY psim DESC, vec_id LIMIT 20),
       |fq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, ${cosSql("e.embedding", "fq.qv")} AS sim
       |FROM embeddings e
       |JOIN short s ON s.vec_id = e.vec_id
       |CROSS JOIN fq
       |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q143
  // IVF-PQ serve path (operators/Similarity.ivfPqTopK): the coarse
  // 8-cell quantizer prunes the corpus to the query's 2 nearest cells,
  // PQ codes (2 subspaces x 8 centroids) score the survivors via summed
  // ADC table lookups. The oracle unrolls BOTH trainings — the full-dim
  // coarse Lloyd step (shared ivfCtes) and the per-subspace PQ step —
  // then intersects probe-cell candidates with code lookups.
  private def q143IvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, numCells = 8, m = 2, k = 8, topK = 10, nprobe = 2)

  private val q143Sql = {
    def l2(a: String, b: String) = l2Sql(a, b)
    s"""WITH $ivfCtes,
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn
       |  FROM d1 WHERE vid = 0) WHERE rn <= 2),
       |subv AS (
       |  SELECT vec_id, j, embedding[j*32+1 : (j+1)*32] AS sv
       |  FROM embeddings, unnest(generate_series(0, 1)) AS u(j)),
       |pinit AS (
       |  SELECT j, CAST(vec_id AS INTEGER) AS cid, sv AS cv
       |  FROM subv WHERE vec_id < 8),
       |pd0 AS (
       |  SELECT s.vec_id AS vid, s.j, i.cid, ${l2("s.sv", "i.cv")} AS d2
       |  FROM subv s JOIN pinit i ON s.j = i.j),
       |pa0 AS (SELECT vid, j, cell0 FROM (
       |  SELECT vid, j, cid AS cell0,
       |         row_number() OVER (PARTITION BY vid, j ORDER BY d2, cid) AS rn
       |  FROM pd0) WHERE rn = 1),
       |pdims AS (
       |  SELECT pa0.j, pa0.cell0,
       |    unnest(generate_series(1, len(s.sv))) AS i,
       |    unnest(list_transform(s.sv, x -> CAST(x AS DOUBLE))) AS x
       |  FROM subv s JOIN pa0 ON s.vec_id = pa0.vid AND s.j = pa0.j),
       |pc1 AS (SELECT j, cell0 AS cid, list(m ORDER BY i) AS cv FROM (
       |  SELECT j, cell0, i, round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM pdims GROUP BY j, cell0, i) GROUP BY j, cell0),
       |enc AS (SELECT vid, j, code FROM (
       |  SELECT s.vec_id AS vid, s.j, c.cid AS code,
       |         row_number() OVER (PARTITION BY s.vec_id, s.j
       |                            ORDER BY ${l2("s.sv", "c.cv")}, c.cid) AS rn
       |  FROM subv s JOIN pc1 c ON s.j = c.j) WHERE rn = 1),
       |lut AS (
       |  SELECT c.j, c.cid, round(${l2("q.sv", "c.cv")}, 6) AS dd
       |  FROM pc1 c JOIN subv q ON q.j = c.j AND q.vec_id = 0),
       |cand AS (
       |  SELECT a1.vid FROM a1 JOIN probes ON a1.cell = probes.cell
       |  WHERE a1.vid <> 0),
       |scored AS (
       |  SELECT e.vid AS vec_id, round(SUM(l.dd), 6) AS adist
       |  FROM enc e JOIN cand ON cand.vid = e.vid
       |  JOIN lut l ON e.j = l.j AND e.code = l.cid
       |  GROUP BY e.vid)
       |SELECT vec_id, adist FROM scored ORDER BY adist, vec_id LIMIT 10""".stripMargin
  }

  // --------------------------------------------------------------- q144
  // Recall@10 eval (operators/Similarity.recallAtK): for 5 query
  // vectors, the IVF nprobe=1 top-10 is scored against the exact
  // brute-force cosine top-10 — the metric every ANN deployment tracks.
  // Train-once / probe-many: one shared coarse index serves all probes.
  private def q144Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val approx = qids.map(q =>
        Similarity.ivfProbe(emb, "vec_id", "embedding", q, index, k = 10)
          .withColumn("query_id", lit(q)))
      .reduce(_ unionByName _)
    val exact = qids.map(q =>
        Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
          .withColumn("query_id", lit(q)))
      .reduce(_ unionByName _)
    Similarity.recallAtK(approx, exact, "query_id", "vec_id")
      .orderBy(col("query_id"))
  }

  private val q144Sql =
    s"""WITH $ivfCtes,
       |qv AS (SELECT vid AS qid, ev AS qvec FROM a1 WHERE vid IN (0, 1, 2, 3, 4)),
       |probes AS (SELECT qid, cell FROM (
       |  SELECT d1.vid AS qid, d1.cid AS cell,
       |         row_number() OVER (PARTITION BY d1.vid ORDER BY d1.d2, d1.cid) AS rn
       |  FROM d1 WHERE d1.vid IN (0, 1, 2, 3, 4)) WHERE rn <= 1),
       |ax AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, a1.vid AS vec_id,
       |         row_number() OVER (PARTITION BY p.qid
       |                            ORDER BY ${cosSql("a1.ev", "q.qvec")} DESC, a1.vid) AS rn
       |  FROM a1 JOIN probes p ON a1.cell = p.cell
       |  JOIN qv q ON q.qid = p.qid
       |  WHERE a1.vid <> p.qid) WHERE rn <= 10),
       |ex AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, a1.vid AS vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |                            ORDER BY ${cosSql("a1.ev", "q.qvec")} DESC, a1.vid) AS rn
       |  FROM a1 CROSS JOIN qv q WHERE a1.vid <> q.qid) WHERE rn <= 10),
       |hits AS (SELECT ex.qid, COUNT(*) AS n_hit
       |         FROM ex JOIN ax ON ax.qid = ex.qid AND ax.vec_id = ex.vec_id
       |         GROUP BY ex.qid),
       |nex AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid)
       |SELECT CAST(nex.qid AS BIGINT) AS query_id,
       |  round(CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / nex.n_exact, 6) AS recall
       |FROM nex LEFT JOIN hits ON hits.qid = nex.qid
       |ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- q137
  // Host-graph PageRank — the authority score a crawl pipeline ranks
  // its frontier by. The host graph is synthesized from doc_id
  // arithmetic (two deterministic outlinks per doc over 8 hosts, so the
  // weighted digraph is fixed at every SF); 5 power-iteration rounds at
  // damping 0.85. The oracle unrolls the same 5 rounds as chained CTEs
  // — a fixed iteration count (not a convergence test) keeps both
  // engines bit-reproducible under round(6).
  private def q137Pagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def host(e: org.apache.spark.sql.Column) =
      concat(lit("h"), e.cast("string"))
    val e0 = docs.select(host(col("doc_id") % 8).as("src"),
        host((col("doc_id") * 3 + 1) % 8).as("dst"))
      .unionByName(docs.select(host(col("doc_id") % 8).as("src"),
        host((col("doc_id") * 5 + 2) % 8).as("dst")))
    val edges = e0.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, iters = 5, damping = 0.85)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }

  private val q137Sql = {
    val iter = (k: Int) =>
      s"""r$k AS (SELECT nd.node, 0.15/n.cnt + 0.85*coalesce(c.s, 0.0) AS r
         |  FROM nodes nd CROSS JOIN n LEFT JOIN (
         |    SELECT f.dst AS node, SUM(p.r * f.frac) AS s
         |    FROM f JOIN r${k - 1} p ON f.src = p.node GROUP BY f.dst) c
         |  ON nd.node = c.node)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT 'h' || CAST(doc_id % 8 AS VARCHAR) AS src,
       |         'h' || CAST((doc_id*3 + 1) % 8 AS VARCHAR) AS dst FROM documents
       |  UNION ALL
       |  SELECT 'h' || CAST(doc_id % 8 AS VARCHAR),
       |         'h' || CAST((doc_id*5 + 2) % 8 AS VARCHAR) FROM documents),
       |e AS (SELECT src, dst, COUNT(*) AS w FROM e0 GROUP BY src, dst),
       |outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
       |f AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(ow AS DOUBLE) AS frac
       |      FROM e JOIN outw USING (src)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
       |r0 AS (SELECT node, 1.0/cnt AS r FROM nodes CROSS JOIN n),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |${iter(4)},
       |${iter(5)}
       |SELECT node, round(r, 6) AS pr FROM r5 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q138
  // Incoming-anchor-text aggregation — the off-page relevance signal:
  // anchors are extracted WITH their inner text (extractAnchors), then
  // grouped by TARGET host, so each host accumulates what other pages
  // call it. Synthesized pages carry three anchor shapes: a doc-varying
  // guide link, a nested-markup mirror link, and a relative link.
  private def q138AnchorText(s: SparkSession, dir: String): DataFrame = {
    val g = (col("doc_id") % 5).cast("string")
    val html = concat(
      lit("<p>see</p><a href=\"https://docs.example.com/guide/"), g,
      lit("\">Guide  "), g, lit("</a>"),
      lit("<a class=\"m\" href=\"http://Mirror.example.net/copy\">mirror <b>fast</b></a>"),
      lit("<a href=\"/local/home\">home page</a>"))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(Curation.extractAnchors(html)).as("a"))
      .select(col("doc_id"),
        coalesce(Curation.urlHost(col("a.href")), lit("(relative)")).as("host"),
        col("a.anchor").as("anchor"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col("anchor")).as("n_texts"),
        min(col("anchor")).as("first_text"))
      .orderBy(col("host"))
  }

  private val q138Sql =
    """WITH h AS (SELECT doc_id,
      |    '<p>see</p><a href="https://docs.example.com/guide/' || CAST(doc_id % 5 AS VARCHAR) ||
      |    '">Guide  ' || CAST(doc_id % 5 AS VARCHAR) || '</a>' ||
      |    '<a class="m" href="http://Mirror.example.net/copy">mirror <b>fast</b></a>' ||
      |    '<a href="/local/home">home page</a>' AS html FROM documents),
      |m AS (SELECT doc_id, unnest(regexp_extract_all(html,
      |    '(?is)<a\b[^>]*href="([^"]*)"[^>]*>(.*?)</a>', 0)) AS el FROM h),
      |p AS (SELECT doc_id,
      |    regexp_extract(el, '(?is)href="([^"]*)"', 1) AS href,
      |    trim(regexp_replace(regexp_replace(
      |      regexp_extract(el, '(?is)>(.*)</a>$', 1), '<[^>]*>', ' ', 'g'),
      |      '\s+', ' ', 'g')) AS anchor FROM m),
      |k AS (SELECT doc_id, anchor, coalesce(nullif(regexp_replace(
      |    lower(regexp_extract(href, '^https?://([^/:?#]+)', 1)),
      |    '^www\.', ''), ''), '(relative)') AS host FROM p)
      |SELECT host, COUNT(*) AS n_anchors, COUNT(DISTINCT anchor) AS n_texts,
      |  MIN(anchor) AS first_text
      |FROM k GROUP BY host ORDER BY host""".stripMargin

  // ---------------------------------------------------------------- q139
  // The Gopher quality-rule battery (Rae et al. 2021 §A1.1) over texts
  // augmented so each rule actually fires: every third doc gains bullet
  // lines + an ellipsis tail, every third+1 a hash-heavy line. Output
  // is the full per-rule measurement table plus the combined verdict.
  private def q139GopherRules(s: SparkSession, dir: String): DataFrame = {
    val s0 = "\n- bullet point one\n- bullet point two\nAnd a trailing thought..."
    val s1 = "\n" + ("#" * 40) + " ..."
    val m = col("doc_id") % 3
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(m === 0, lit(s0)).when(m === 1, lit(s1)).otherwise(lit("")))
        .as("text"))
    Curation.gopherRules(docs, "doc_id", "text", minWords = 20)
      .orderBy(col("doc_id"))
  }

  private val q139Sql = {
    val stops = "'the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'"
    s"""WITH aug AS (SELECT doc_id, text || CASE CAST(doc_id % 3 AS INTEGER)
       |    WHEN 0 THEN chr(10) || '- bullet point one' || chr(10) ||
       |      '- bullet point two' || chr(10) || 'And a trailing thought...'
       |    WHEN 1 THEN chr(10) || repeat('#', 40) || ' ...'
       |    ELSE '' END AS text FROM documents),
       |m AS (SELECT doc_id,
       |    string_split_regex(text, '\\s+') AS w,
       |    string_split(text, chr(10)) AS lines,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
       |      CAST(len(regexp_extract_all(text, '\\.\\.\\.', 0)) AS BIGINT) AS n_sym
       |  FROM aug),
       |r AS (SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
       |      / len(w), 6) AS mean_wlen,
       |    round(CAST(n_sym AS DOUBLE) / len(w), 6) AS symbol_ratio,
       |    round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
       |      '^[-*•]'))) AS DOUBLE) / len(lines), 6) AS bullet_frac,
       |    round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
       |      '\\.\\.\\.$$'))) AS DOUBLE) / len(lines), 6) AS ellipsis_frac,
       |    round(CAST(len(list_filter(w, x -> regexp_matches(x,
       |      '[a-zA-Z]'))) AS DOUBLE) / len(w), 6) AS alpha_frac,
       |    CAST(len(list_distinct(list_intersect(
       |      list_distinct(list_transform(w, x -> lower(x))),
       |      [$stops]))) AS BIGINT) AS stop_hits
       |  FROM m)
       |SELECT *, (n_words BETWEEN 20 AND 100000 AND mean_wlen BETWEEN 3.0 AND 10.0
       |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |  AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q140
  // Bloom-filter file skipping: point lookup on a content-hash key that
  // scatters uniformly across every file, so min/max zones cannot prune
  // — the bloom sidecar must (require(kept < total) proves it in-plan,
  // the q128 pattern). The oracle sees only the relational result.
  private def q140BloomSkip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q140", dir)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        col("n_chars"))
    graft.sinks.SkippingStore.write(docs, "doc_id", out, nFiles = 12)
    graft.sinks.SkippingStore.bloomIndex(s, out, "key", nbits = 1 << 17, k = 5)
    val target = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (kept, total, hit) =
      graft.sinks.SkippingStore.readBloomEq(s, out, "key", target)
    require(kept < total,
      s"bloom filter must skip files for a point lookup ($kept of $total kept)")
    hit.select(col("doc_id"), col("key"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q140Sql =
    """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key, n_chars
      |FROM documents
      |WHERE md5(CAST(doc_id AS VARCHAR)) = md5('42')
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q195
  // TRANSPARENT bloom pruning (plans/ZonePruneRule): q140's point
  // lookup with NO graft reader API anywhere — a plain
  // spark.read.parquet(store).filter(key = ...) consults the keycol-
  // marked _bloommap sidecar inside the optimizer and opens only the
  // candidate files. The in-plan require proves files were skipped.
  private def q195BloomRule(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q195", dir)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        col("n_chars"))
    graft.sinks.SkippingStore.write(docs, "doc_id", out, nFiles = 12)
    graft.sinks.SkippingStore.bloomIndex(s, out, "key", nbits = 1 << 17, k = 5)
    val target = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = s.read.parquet(out).filter(col("key") === target)
      .select(col("doc_id"), col("key"), col("n_chars"))
      .orderBy(col("doc_id"))
    val scanned = got.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.inputFiles.length
    }.sum
    require(scanned < 12,
      s"the optimizer rule must bloom-prune the plain read ($scanned of 12 files)")
    got
  }

  private val q195Sql =
    """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key, n_chars
      |FROM documents
      |WHERE md5(CAST(doc_id AS VARCHAR)) = md5('42')
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q201
  // Metadata-only count (plans/MetadataCountRule): a bare count(*)
  // over a plain read of an nrows-carrying store answers from the
  // sidecar manifest — the Delta/Iceberg metadata count. The in-plan
  // require proves NO data file was opened (AQE-aware probe).
  private def q201MetaCount(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q201", dir)
    graft.sinks.SkippingStore.writeMulti(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", Seq("doc_id", "n_chars"), out, 8)
    val cnt = s.read.parquet(out).groupBy().count()
      .select(col("count").as("n_docs"))
    require(!graft.plans.PlanProbe.scansFiles(cnt),
      "count(*) over the store must answer from the sidecar manifest")
    cnt
  }

  private val q201Sql =
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents"

  // --------------------------------------------------------------- q203
  // Dynamic file pruning for a dimension join (SkippingStore
  // .joinPruned): the 3-key dimension's values probe every file's
  // bloom filter in ONE sidecar pass and only candidate files open —
  // file-granularity dynamic partition pruning for a store partitioned
  // by nothing. The in-plan require proves files were skipped.
  private def q203DimJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = scratch("q203", dir)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        col("n_chars"))
    graft.sinks.SkippingStore.write(docs, "doc_id", out, nFiles = 12)
    graft.sinks.SkippingStore.bloomIndex(s, out, "key")
    def h(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dim = Seq((h("7"), "alpha"), (h("42"), "beta"), (h("99"), "gamma"))
      .toDF("key", "label")
    val (kept, total, _) = graft.sinks.SkippingStore.readBloomIn(
      s, out, "key", Seq(h("7"), h("42"), h("99")))
    require(kept < total,
      s"the dimension probe must skip files ($kept of $total kept)")
    graft.sinks.SkippingStore.joinPruned(out, dim, "key")
      .select(col("doc_id"), col("key"), col("label"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q203Sql =
    """SELECT d.doc_id, md5(CAST(d.doc_id AS VARCHAR)) AS key, v.label, d.n_chars
      |FROM documents d
      |JOIN (VALUES (md5('7'), 'alpha'), (md5('42'), 'beta'),
      |             (md5('99'), 'gamma')) v(key, label)
      |  ON md5(CAST(d.doc_id AS VARCHAR)) = v.key
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q204
  // Metadata-only min/max (plans/MetadataMinMaxRule): a global extrema
  // aggregate over a multi-indexed store reduces from the per-file zone
  // stats — bigint via the exactness-guarded (< 2^53) double slots,
  // doubles directly, strings via the lexicographic slots, timestamps
  // as epoch micros, and count(*) riding the same manifest. The
  // in-plan require proves NO data file was opened (AQE-aware probe).
  private def q204MetaMinMax(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q204", dir)
    graft.sinks.SkippingStore.writeMulti(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate")),
      "l_orderkey",
      Seq("l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"),
      out, 8)
    val agg = s.read.parquet(out).agg(
      min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      min(col("l_returnflag")).as("min_flag"),
      max(col("l_returnflag")).as("max_flag"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"),
      count(lit(1)).as("n"))
    require(!graft.plans.PlanProbe.scansFiles(agg),
      "global min/max over the store must answer from the zone sidecar")
    agg
  }

  private val q204Sql =
    """SELECT CAST(min(l_orderkey) AS BIGINT) AS min_ok,
      |  CAST(max(l_orderkey) AS BIGINT) AS max_ok,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem""".stripMargin

  // --------------------------------------------------------------- q205
  // Semantic decontamination (Similarity.semanticDecontaminate): every
  // corpus vector within cosine 0.3 of ANY benchmark vector (vec_id <
  // 50 plays the eval suite), with its best-matching benchmark item —
  // the embedding-space complement of the n-gram decontaminator q52.
  // The benchmark broadcasts, the corpus streams, the threshold filter
  // runs map-side before the bounded top-1 aggregate.
  private def q205SemanticDecon(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val out = Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", 0.3)
    out.orderBy(col("vec_id"))
  }

  private val q205Sql =
    """WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50),
      |scored AS (
      |  SELECT c.vec_id AS vec_id, b.vec_id AS bench_id,
      |    round(
      |      list_sum(list_transform(generate_series(1, len(b.embedding)),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))), 6) AS sim
      |  FROM c, b),
      |hits AS (SELECT * FROM scored WHERE sim >= 0.3),
      |best AS (SELECT vec_id, bench_id, sim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id) AS rn
      |  FROM hits)
      |SELECT vec_id, CAST(bench_id AS BIGINT) AS bench_id, sim
      |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q206
  // Incremental IVF postings store (Similarity.ivfStoreBuild/Append/
  // TopK): train the coarse quantizer on the base corpus, persist the
  // postings partitioned by cell, stream a later batch in with the
  // FROZEN index (map-only assignment, no retrain), then serve a
  // top-10 probe that opens only the nprobe probed cells' partitions.
  // The in-plan require proves the partition pruning; the oracle
  // trains on the base slice but assigns everything — exactly
  // build-then-append with a frozen index, since assignment is
  // per-row.
  private def q206IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q206", dir)
    val emb = t(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val ix = Similarity.trainIvf(base, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(base, "vec_id", "embedding", ix, out)
    Similarity.ivfStoreAppend(batch, "vec_id", "embedding", ix, out)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val res = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = 2, excludeId = Some(0L))
    val total = cellDirCount(s, out)
    require(graft.plans.PlanProbe.scannedFileCount(res) < total,
      s"the probe must open only the probed cells' partitions (of $total)")
    res
  }

  private val q206Sql =
    s"""WITH ${ivfCtesTrainedOn("e.vec_id < 400")},
       |q AS (SELECT ev AS qv FROM a1 WHERE vid = 0),
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d1 WHERE vid = 0) WHERE rn <= 2),
       |scored AS (
       |  SELECT vid AS vec_id,
       |    ${cosSql("ev", "qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell CROSS JOIN q WHERE a1.vid <> 0)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q207
  // Join elimination over a declared-unique key (plans/
  // JoinEliminationRule + sinks/Constraints): the fact table
  // left-joins an orders dimension store whose o_orderkey carries a
  // verified unique declaration, but the aggregate reads only fact
  // columns — so the optimizer drops the join (and the dimension scan)
  // entirely. The in-plan require proves no Join survives; the oracle
  // RUNS the join, which must be answer-identical by the uniqueness
  // argument the rule rests on.
  private def q207JoinElim(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q207", dir)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(out)
    graft.sinks.Constraints.declareUnique(s, out, "o_orderkey")
    val li = t(s, dir, "lineitem")
    val dim = s.read.parquet(out)
    val res = li.join(dim, li("l_orderkey") === dim("o_orderkey"), "left_outer")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    val joins = res.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    require(joins.isEmpty,
      "the unique-key left join must be eliminated from the plan")
    res
  }

  private val q207Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q210
  // Postings-store compaction (Similarity.compactIvfStore): same
  // build + frozen-index append as q206, then the small-files rewrite
  // (one file per cell, rename-aside swap) BEFORE serving — the
  // answer must be byte-identical to q206's, proving compaction
  // preserves postings, markers, and partition pruning. The in-plan
  // requires prove both the file-count drop and the pruned probe.
  private def q210IvfCompact(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q210", dir)
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", ix, out)
    Similarity.ivfStoreAppend(emb.filter(col("vec_id") >= 400),
      "vec_id", "embedding", ix, out)
    val (was, now) = Similarity.compactIvfStore(s, out)
    require(now <= was && now <= ix.cids.size,
      s"compaction must leave at most one file per cell ($was -> $now)")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val res = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = 2, excludeId = Some(0L))
    require(graft.plans.PlanProbe.scannedFileCount(res) < now,
      "the probe must still partition-prune after compaction")
    res
  }

  // identical oracle to q206: compaction must not change the answer
  private val q210Sql = q206Sql

  // --------------------------------------------------------------- q211
  // Null-count statistics end to end: a store whose stats column
  // carries real nulls answers count(*) / count(col) / min / max from
  // the sidecar alone (count(col) = sum(nrows - nnulls), the Delta
  // nullCount stat), and an IS NULL read opens only the null-bearing
  // files. Both proved in-plan; the null totals cross-check each
  // other.
  private def q211NullStats(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q211", dir)
    val src = t(s, dir, "events")
      .select(when(col("value") < 2.0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"))
    graft.sinks.SkippingStore.writeMulti(src, "v", Seq("v"), out, 8)
    val store = s.read.parquet(out)
    val agg = store.agg(count(lit(1)).as("n"), count(col("v")).as("n_v"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    require(!graft.plans.PlanProbe.scansFiles(agg),
      "count(*)/count(v)/min/max must answer from the null-count sidecar")
    val head = agg.head()
    val nNull = head.getLong(0) - head.getLong(1)
    val nulls = store.filter(col("v").isNull)
    require(graft.plans.PlanProbe.scannedFileCount(nulls) < 8,
      "IS NULL must open only the null-bearing files (of 8)")
    require(nulls.count() == nNull,
      "the pruned IS NULL read must agree with the sidecar null total")
    agg.withColumn("n_null", lit(nNull))
  }

  private val q211Sql =
    """WITH s AS (
      |  SELECT CASE WHEN value < 2.0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(v) AS BIGINT) AS n_v,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q212
  // DISTINCT elimination + metadata count(DISTINCT) (plans/
  // DistinctEliminationRule + Constraints): the orders store's
  // o_orderkey carries a verified unique, null-free declaration, so
  // SELECT DISTINCT (o_orderkey, o_orderstatus) is a no-op — no
  // Aggregate, no shuffle — and count(DISTINCT o_orderkey) answers
  // from the sidecar's null-count stat without opening a file. The
  // oracle RUNS the distinct, answer-identical by the uniqueness
  // argument.
  private def q212DistinctElim(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q212", dir)
    graft.sinks.SkippingStore.writeMulti(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
      "o_orderkey", Seq("o_orderkey"), out, 4)
    graft.sinks.Constraints.declareUnique(s, out, "o_orderkey")
    val dim = s.read.parquet(out)
    val cd = dim.agg(count_distinct(col("o_orderkey")).as("n"))
    require(!graft.plans.PlanProbe.scansFiles(cd),
      "count(DISTINCT unique-key) must answer from the sidecar")
    val res = dim.select(col("o_orderkey"), col("o_orderstatus")).distinct()
    val aggs = res.queryExecution.optimizedPlan.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ag
    }
    require(aggs.isEmpty,
      "DISTINCT containing the unique null-free key must be eliminated")
    res.withColumn("n_keys", lit(cd.head().getLong(0)))
      .orderBy(col("o_orderkey"))
  }

  private val q212Sql =
    """WITH d AS (SELECT DISTINCT o_orderkey, o_orderstatus FROM orders),
      |n AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
      |      FROM orders)
      |SELECT o_orderkey, o_orderstatus, n_keys
      |FROM d CROSS JOIN n ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- q213
  // FK inner-join elimination (Constraints.declareForeignKey + the
  // Inner arm of JoinEliminationRule): lineitem's l_orderkey carries
  // a verified, both-sides-stamped foreign key into the orders store,
  // so the INNER join — which without the declaration could drop or
  // duplicate fact rows — is the identity on the fact side and leaves
  // the plan when only fact columns are read. The oracle RUNS the
  // join; TPC-H's referential integrity is what the declaration
  // verified.
  private def q213FkElim(s: SparkSession, dir: String): DataFrame = {
    val factOut = scratch("q213f", dir)
    val dimOut = scratch("q213d", dir)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .write.mode("overwrite").parquet(factOut)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(dimOut)
    graft.sinks.Constraints.declareUnique(s, dimOut, "o_orderkey")
    graft.sinks.Constraints.declareForeignKey(
      s, factOut, "l_orderkey", dimOut, "o_orderkey")
    val fact = s.read.parquet(factOut)
    val dim = s.read.parquet(dimOut)
    val res = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    val joins = res.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    require(joins.isEmpty,
      "the declared-FK inner join must be eliminated from the plan")
    res
  }

  private val q213Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q214
  // Filtered ANN served from the postings store: the q80 semantics
  // (top-k under a metadata predicate) against the q206 layout — the
  // probe partition-prunes to the nprobe cells FIRST, the rider-column
  // predicate pushes into the surviving parquet second, and the exact
  // cosine ranks only what passed both. Rider columns persisting
  // through the store writers is what makes the filter serveable at
  // all.
  private def q214StoreFilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q214", dir)
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", (col("vec_id") % 7).cast("int"))
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix, out)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val res = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = 2, excludeId = Some(0L),
      where = Some(col("bucket") === 3))
    val total = cellDirCount(s, out)
    require(graft.plans.PlanProbe.scannedFileCount(res) < total,
      s"the filtered probe must still open only probed cells (of $total)")
    res
  }

  private val q214Sql =
    s"""WITH $ivfCtes,
       |q AS (SELECT ev AS qv FROM a1 WHERE vid = 0),
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d1 WHERE vid = 0) WHERE rn <= 2),
       |scored AS (
       |  SELECT vid AS vec_id,
       |    ${cosSql("ev", "qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell CROSS JOIN q
       |  WHERE a1.vid <> 0 AND a1.vid % 7 = 3)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q215
  // IVF-SQ8 postings store (Similarity.ivfSq8StoreBuild/TopK): the
  // q206 inverted-list layout with int8 codes instead of float
  // vectors — assignment on the exact floats, ~4x smaller lists, the
  // FAISS IVF-SQ8 memory layout. Serve probes with the float query,
  // partition-prunes, then ranks by the dequantized int64 dot against
  // driver-encoded query codes. The in-plan requires prove the pruned
  // scan AND that no float-vector column survives in the store.
  private def q215IvfSq8(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q215", dir)
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfSq8StoreBuild(emb, "vec_id", "embedding", ix, out)
    val stored = s.read.parquet(out)
    require(!stored.columns.contains("embedding") &&
        !stored.columns.contains("vec"),
      "the IVF-SQ8 store must hold codes only, never the float vectors")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val res = Similarity.ivfSq8StoreTopK(s, out, "vec_id", qv, ix,
      k = 10, nprobe = 2, excludeId = Some(0L))
    val total = cellDirCount(s, out)
    require(graft.plans.PlanProbe.scannedFileCount(res) < total,
      s"the SQ8 probe must open only probed cells (of $total)")
    res
  }

  // lazy: sq8Ctes is declared later in the object; a strict val here
  // would interpolate null at initialization order
  private lazy val q215Sql =
    s"""WITH $ivfCtes,
       |$sq8Ctes,
       |q AS (SELECT s AS qs, codes AS qc FROM cd WHERE vec_id = 0),
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d1 WHERE vid = 0) WHERE rn <= 2)
       |SELECT cd.vec_id,
       |  round(CAST(list_sum(list_transform(generate_series(1, len(codes)),
       |    i -> codes[i] * qc[i])) AS DOUBLE) * s * qs, 6) AS qsim
       |FROM cd JOIN a1 ON cd.vec_id = a1.vid
       |  JOIN probes ON a1.cell = probes.cell CROSS JOIN q
       |WHERE cd.vec_id <> 0
       |ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q216
  // Batched store-served kNN join (Similarity.knnJoinIvfStore): a
  // whole query FRAME retrieves top-k from the q206 postings layout in
  // ONE job — probe cells assigned map-side per query, the store scan
  // partition-pruned to the UNION of probed cells, each probed
  // partition read once for ALL queries probing it. Per query-id the
  // answer is bit-identical to the per-query ivfStoreTopK loop (same
  // rounding, same tiebreaks) — the property the oracle replays in
  // SQL. The in-plan require proves the union prune.
  private def q216StoreKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q216", dir)
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix, out)
    val queries = emb.filter(col("vec_id") < 3)
    val res = Similarity.knnJoinIvfStore(s, out, queries,
      "vec_id", "embedding", k = 10, index = ix, nprobe = 1)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    val total = cellDirCount(s, out)
    require(graft.plans.PlanProbe.scannedFileCount(res) < total,
      s"the batched serve must scan only the probed-cell union (of $total)")
    res
  }

  private val q216Sql =
    s"""WITH $ivfCtes,
       |q AS (SELECT vid AS query_id, ev AS qv FROM a1 WHERE vid < 3),
       |probes AS (SELECT vid AS query_id, cid AS cell FROM (
       |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
       |  FROM d1 WHERE vid < 3) WHERE rn <= 1),
       |scored AS (
       |  SELECT probes.query_id, a1.vid AS vec_id, ${cosSql("a1.ev", "q.qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell
       |    JOIN q ON q.query_id = probes.query_id
       |  WHERE a1.vid <> probes.query_id),
       |ranked AS (SELECT query_id, vec_id, sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 10
       |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  // --------------------------------------------------------------- q218
  // Corpus-sized SWEEP through the batched store serve: the query
  // frame IS the whole embeddings table and nprobe = numCells, so
  // knnJoinIvfStore degrades to the exact all-pairs kNN join served
  // from the persisted postings (each store partition read once for
  // ALL queries probing it). This is the dedup-sweep / hard-negative-
  // mining shape the operator's scaladoc advertises — it only plans
  // at this size because the query side carries NO forced broadcast
  // hint (VERDICT r8 #1): the planner sees the localCheckpoint's real
  // stats and shuffle-joins on `cell` when the frame is corpus-sized.
  // The oracle is the brute-force all-pairs top-10 (probing every
  // cell covers every candidate exactly once, so the IVF CTEs cancel
  // out of the replay).
  private def q218StoreKnnSweep(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q218", dir)
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix, out)
    val res = Similarity.knnJoinIvfStore(s, out, emb,
      "vec_id", "embedding", k = 10, index = ix, nprobe = ix.cids.size)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    // the sweep's prune degrades to "read the whole store ONCE": the
    // scan must touch every data file exactly one time, not per query
    val allFiles = graft.sinks.HadoopSwap.parquetFileCount(s, out)
    require(graft.plans.PlanProbe.scannedFileCount(res) == allFiles,
      s"full-probe sweep must scan each store file once ($allFiles)")
    res
  }

  private val q218Sql =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id, ${cosSql("c.embedding", "q.embedding")} AS sim
       |  FROM embeddings c JOIN embeddings q ON c.vec_id <> q.vec_id),
       |ranked AS (SELECT query_id, vec_id, sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 10
       |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  // --------------------------------------------------------------- q219
  // Filtered ANN over a RIDER-CLUSTERED postings store
  // (Similarity.ivfStoreBuildClustered): the q214 semantics — serve a
  // metadata-gated probe from the persisted inverted lists — but the
  // lists are range-clustered by the rider column and carry a
  // partition-relative _zonemap_multi sidecar, so the serve composes
  // BOTH prunes transparently: partition pruning opens only the
  // probed cells, the zone rule skips rider-mismatched files INSIDE
  // them (plans/PrunedFileIndex). The in-plan require proves the
  // composition: fewer files scanned than the probed cells hold.
  // Results are bit-identical to the unclustered q214 path; the
  // oracle replays the same ranking.
  private def q219ClusteredAnn(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q219", dir)
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", (col("vec_id") % 7).cast("int"))
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuildClustered(emb, "vec_id", "embedding", ix, out,
      riderCols = Seq("bucket"), filesPerCell = 3)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val res = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = 2, excludeId = Some(0L),
      where = Some(col("bucket") === 3))
    val probed = s.range(1)
      .select(explode(graft.functions.VectorFunctions.nearest_cells(
        typedLit(qv), ix.cids, ix.centroids, 2)).as("cell"))
      .collect().map(_.getInt(0))
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { c =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/cell=$c"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) < filesInProbed,
      s"the rider-clustered serve must skip files INSIDE the probed " +
        s"cells (opened all $filesInProbed)")
    res
  }

  // same relational answer as q214 — the clustering changes the files
  // opened, never the rows returned
  private lazy val q219Sql = q214Sql

  // --------------------------------------------------------------- q220
  // The WHOLE clustered-postings lifecycle in one row: build the
  // rider-clustered store on a base slice (frozen index), stream a
  // later batch in (ivfStoreAppend — map-only assignment), extend the
  // relative-path sidecar over ONLY the new files (indexPartitioned),
  // serve a filtered probe (both prunes compose), then COMPACT — the
  // rewrite re-sorts each list by (cell, rider) and rebuilds the
  // sidecar against the new layout before the swap — and serve again.
  // The two serves must be bit-identical and the compact must shrink
  // the store; the oracle replays the ranking trained on the base
  // slice (assignment is per-row, so append == build-then-append).
  private def q220ClusteredLifecycle(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q220", dir)
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", (col("vec_id") % 7).cast("int"))
    val base = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val ix = Similarity.trainIvf(base, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuildClustered(base, "vec_id", "embedding", ix, out,
      riderCols = Seq("bucket"), filesPerCell = 3)
    Similarity.ivfStoreAppend(batch, "vec_id", "embedding", ix, out)
    // per-batch sidecar maintenance: only the appended files scan
    graft.sinks.SkippingStore.indexPartitioned(s, out, Seq("bucket"))
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    def serve() = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = 2, excludeId = Some(0L),
      where = Some(col("bucket") === 3))
    val first = serve().collect().toSeq
    val (was, now) = Similarity.compactIvfStore(s, out, filesPerCell = 3)
    require(now < was,
      s"compaction must shrink the appended store ($was -> $now files)")
    val res = serve()
    require(res.collect().toSeq == first,
      "the compacted store must serve bit-identical results")
    // the clustered layout must SURVIVE the rewrite: compacted with the
    // build's filesPerCell, the rebuilt zones still skip rider-
    // mismatched files inside the probed cells (a one-wide-file-per-
    // cell rewrite would pass the bit-identical check yet silently
    // lose the filtered-ANN prune)
    val probed = s.range(1)
      .select(explode(graft.functions.VectorFunctions.nearest_cells(
        typedLit(qv), ix.cids, ix.centroids, 2)).as("cell"))
      .collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { c =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/cell=$c"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) < filesInProbed,
      s"the compacted clustered store must still skip files inside " +
        s"probed cells (opened all $filesInProbed)")
    res
  }

  private lazy val q220Sql =
    s"""WITH ${ivfCtesTrainedOn("e.vec_id < 400")},
       |q AS (SELECT ev AS qv FROM a1 WHERE vid = 0),
       |probes AS (SELECT cid AS cell FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d1 WHERE vid = 0) WHERE rn <= 2),
       |scored AS (
       |  SELECT vid AS vec_id,
       |    ${cosSql("ev", "qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell CROSS JOIN q
       |  WHERE a1.vid <> 0 AND a1.vid % 7 = 3)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q221
  // Filtered BATCHED sweep: a query frame retrieves top-k from the
  // rider-clustered postings store under a metadata gate — the
  // hard-negative-mining-within-a-quality-tier shape. One job; per
  // query the store scan partition-prunes to the probed-cell union,
  // the transparent zone rule skips rider-mismatched files INSIDE
  // those cells, and the residual bucket predicate rides parquet
  // pushdown — the in-plan require proves the file count is below the
  // probed union's. Per query-id the answer equals the per-query
  // filtered serve (q219's semantics, batched).
  private def q221FilteredSweep(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q221", dir)
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", (col("vec_id") % 7).cast("int"))
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuildClustered(emb, "vec_id", "embedding", ix, out,
      riderCols = Seq("bucket"), filesPerCell = 3)
    val queries = emb.filter(col("vec_id") < 5)
    val res = Similarity.knnJoinIvfStore(s, out, queries,
      "vec_id", "embedding", k = 10, index = ix, nprobe = 2,
      where = Some(col("bucket") === 3))
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    val probedUnion = queries
      .select(explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), ix.cids, ix.centroids, 2)).as("cell"))
      .distinct().collect().map(_.getInt(0))
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInUnion = probedUnion.map { c =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/cell=$c"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) < filesInUnion,
      s"the filtered sweep must skip rider-mismatched files inside the " +
        s"probed union (opened all $filesInUnion)")
    res
  }

  private val q221Sql =
    s"""WITH $ivfCtes,
       |q AS (SELECT vid AS query_id, ev AS qv FROM a1 WHERE vid < 5),
       |probes AS (SELECT vid AS query_id, cid AS cell FROM (
       |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
       |  FROM d1 WHERE vid < 5) WHERE rn <= 2),
       |scored AS (
       |  SELECT probes.query_id, a1.vid AS vec_id, ${cosSql("a1.ev", "q.qv")} AS sim
       |  FROM a1 JOIN probes ON a1.cell = probes.cell
       |    JOIN q ON q.query_id = probes.query_id
       |  WHERE a1.vid <> probes.query_id AND a1.vid % 7 = 3),
       |ranked AS (SELECT query_id, vec_id, sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 10
       |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  /** Shared oracle fragment: Okapi BM25 top-`k` over `documents` for a
    * literal term set — q133's CTE parameterized, reused verbatim by
    * the postings-store serves (q222/q223), which must equal the
    * scan-everything answer bit-for-bit. */
  private def bm25Sql(terms: Seq[String], k: Int,
                      corpus: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM $corpus),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN ($inList) GROUP BY doc_id, dl, w),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT doc_id,
       |    CAST(round(
       |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
       |      * (tf * (1.2e0 + 1)) /
       |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
       |  FROM tf JOIN df USING (w) CROSS JOIN stats)
       |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
       |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  // --------------------------------------------------------------- q222
  // Store-served BM25: build the term-bucket-partitioned postings
  // store once (tokenize pass, (tb, w)-clustered files, w-zone +
  // corpus-stats sidecars), then serve a 3-term query from it. The
  // serve reads only the terms' tb= buckets (partition pruning on the
  // engine-evaluated writer hash) and only the w-zone-surviving files
  // inside them — the in-plan require pins the scan below the store's
  // data-file count. Scores are bit-stable with the scan-everything
  // bm25TopK (q133 math), which is exactly what the oracle computes.
  private def q222TextStore(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q222", dir)
    TextIndex.build(t(s, dir, "documents"), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    val res = TextIndex.topK(s, out, Seq("vector", "stream", "window"), 15)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"store-served BM25 must not read the whole postings store " +
        s"($dataFiles data files)")
    res
  }

  private val q222Sql = bm25Sql(Seq("vector", "stream", "window"), 15)

  // --------------------------------------------------------------- q223
  // Postings-store lifecycle: build on two-thirds of the corpus,
  // append the remaining third (batch-only tokenize, frozen bucket
  // hash, sidecar extension over the new files, stats bump), then
  // serve. The oracle scores the FULL corpus — bit-equality proves
  // build+append == rebuild, i.e. appends never skew df/avgdl/N.
  private def q223TextLifecycle(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q223", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
      out, filesPerBucket = 2)
    TextIndex.topK(s, out, Seq("filter", "sort", "batch"), 12)
  }

  private val q223Sql = bm25Sql(Seq("filter", "sort", "batch"), 12)

  // --------------------------------------------------------------- q224
  // Postings-store compaction: two appends decay the store to
  // one-wide-zoned-file-per-bucket-per-batch; compact re-clusters by
  // (tb, w), rebuilds the w-zone sidecar, carries the corpus stats
  // verbatim, and swaps rename-aside. The in-query require pins the
  // file-count shrink; the oracle (full-corpus BM25) pins that the
  // rewrite moved every posting and skewed no stat.
  private def q224TextCompact(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q224", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 4 < 2), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 4 === 2), "doc_id", "text",
      out, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 4 === 3), "doc_id", "text",
      out, filesPerBucket = 2)
    val (was, now) = TextIndex.compact(s, out, filesPerBucket = 2)
    require(now < was,
      s"compaction must shrink the appended store ($was -> $now files)")
    TextIndex.topK(s, out, Seq("query", "group"), 10)
  }

  private val q224Sql = bm25Sql(Seq("query", "group"), 10)

  // --------------------------------------------------------------- q225
  // SELECTIVE compaction (SkippingStore.compactPartitionsSelective):
  // the delta-sized maintenance op — a partitioned store whose decay
  // is concentrated in ONE hot partition (three single-partition
  // appends, the per-source-ingest shape) heals by rewriting ONLY
  // that partition. In-query requires pin the whole contract: exactly
  // the hot partition rewrote, every untouched partition's files kept
  // their paths/mtimes/sizes byte-identically, and the post-compact
  // serve composes partition pruning with the REBUILT in-partition
  // zone skipping. The oracle replays the corpus predicate — the
  // rewrite moved rows, never changed them.
  private def q225SelectiveCompact(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q225", dir)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("cat"),
        size(split(col("text"), "\\s+")).cast("long").as("dl"))
    docs.filter(col("doc_id") % 10 < 7).coalesce(1)
      .write.partitionBy("cat").mode("overwrite").parquet(out)
    graft.sinks.SkippingStore.indexPartitioned(s, out, Seq("doc_id"))
    // cat=1 docs are doc_id ≡ 1 (mod 4): odd, so the %10 ∈ {7, 9} tail
    // classes are exactly the cat-1 docs the base write skipped —
    // restricted to cat=1 the store holds EVERY cat-1 doc
    Seq(7, 9).foreach { m =>
      docs.filter(col("doc_id") % 10 === m && col("cat") === 1).coalesce(1)
        .write.partitionBy("cat").mode("append").parquet(out)
      graft.sinks.SkippingStore.indexPartitioned(s, out, Seq("doc_id"))
    }
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    def state(): Map[String, (Long, Long)] =
      graft.sinks.SkippingStore.listDataFileRelPaths(s, out).map { rel =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$out/$rel"))
        rel -> (st.getModificationTime, st.getLen)
      }.toMap
    val cold0 = state().filterNot(_._1.startsWith("cat=1/"))
    val (rewritten, was, now) = graft.sinks.SkippingStore
      .compactPartitionsSelective(s, out, "cat",
        maxFilesPerPartition = 2, filesPerPartition = 2)
    require(rewritten == Seq("cat=1"),
      s"only the hot partition may rewrite, got $rewritten")
    require(now < was,
      s"selective compaction must shrink the hot partition ($was -> $now)")
    require(state().filterNot(_._1.startsWith("cat=1/")) == cold0,
      "untouched partitions must keep exact paths, mtimes, and sizes")
    val res = s.read.parquet(out)
      .filter(col("cat") === 1 && col("doc_id").between(101, 181))
      .select(col("doc_id"), col("dl")).orderBy(col("doc_id"))
    val inHot = state().keys.count(_.startsWith("cat=1/"))
    require(graft.plans.PlanProbe.scannedFileCount(res) < inHot,
      s"post-compact serve must skip files inside the hot partition " +
        s"(opened all $inHot)")
    res
  }

  // the store holds (doc_id%10<7) ∪ (tail ∧ cat=1); restricted to
  // cat=1 that union is ALL cat-1 docs, so the oracle needs no
  // store-membership clause
  private val q225Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS dl
      |FROM documents
      |WHERE doc_id % 4 = 1 AND doc_id BETWEEN 101 AND 181
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q226
  // Selective compaction of the TEXT postings store: append decay is
  // term-skewed (three appended batches carry a two-token hot string,
  // so their postings land in at most two buckets), and
  // TextIndex.compactSelective heals ONLY those buckets — rewritten
  // bytes proportional to the decay, cold buckets byte-untouched,
  // corpus stats carried verbatim because the rewrite never touches
  // them. The serve after compaction still opens only the query
  // terms' buckets and the w-zone survivors inside them; the oracle
  // scores the SAME modified corpus from scratch.
  private def q226TextSelective(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q226", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    Seq(0L, 3L, 6L).foreach { m =>
      TextIndex.append(
        docs.filter(col("doc_id") % 9 === m)
          .withColumn("text", lit("zetahot omegahot")),
        "doc_id", "text", out, filesPerBucket = 2)
    }
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    def state(): Map[String, (Long, Long)] =
      graft.sinks.SkippingStore.listDataFileRelPaths(s, out).map { rel =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$out/$rel"))
        rel -> (st.getModificationTime, st.getLen)
      }.toMap
    val before = state()
    val (rewritten, was, now) =
      TextIndex.compactSelective(s, out, maxFilesPerBucket = 3,
        filesPerBucket = 2)
    require(rewritten.nonEmpty && rewritten.size < 8,
      s"term-skewed appends must decay a strict subset of buckets, " +
        s"got $rewritten")
    require(now < was,
      s"selective compaction must shrink the hot buckets ($was -> $now)")
    val cold = (rel: String) => !rewritten.exists(r => rel.startsWith(r + "/"))
    require(state().view.filterKeys(cold).toMap ==
        before.view.filterKeys(cold).toMap,
      "cold buckets must keep exact paths, mtimes, and sizes")
    val res = TextIndex.topK(s, out, Seq("vector", "zetahot", "stream"), 12)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"store-served BM25 must not read the whole postings store " +
        s"($dataFiles data files)")
    res
  }

  private val q226Sql = bm25Sql(Seq("vector", "zetahot", "stream"), 12,
    corpus = "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 " +
      "THEN 'zetahot omegahot' ELSE text END AS text FROM documents)")

  // --------------------------------------------------------------- q227
  // STORE-SERVED positional phrase search: q193's exact-adjacency
  // semantics, but from the persisted positional postings store
  // (TextIndex.buildPositional) instead of re-tokenizing the corpus
  // per query. Lifecycle exercised build + append (batch-only
  // tokenize, frozen hash); the serve intersects shifted per-term
  // position lists inside only the phrase terms' buckets — the
  // in-plan require pins the file skipping. The oracle is q193's
  // scan-everything SQL verbatim: store-served adjacency must be
  // bit-identical to the corpus scan.
  private def q227PhraseStore(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q227", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.phraseSearch(s, out, Seq("table", "scan"))
      .orderBy(col("doc_id"))
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"store-served phrase search must not read the whole postings " +
        s"store ($dataFiles data files)")
    res
  }

  // q193's oracle verbatim — the whole point: the store serves the
  // same answer the corpus scan computes
  private lazy val q227Sql = q193Sql

  // --------------------------------------------------------------- q228
  // Term-presence planning: `_corpus_stats` carries a per-batch Bloom
  // bitset over the batch's distinct terms (append-only — bitsets OR
  // at read), and a serve drops provably-absent query terms BEFORE
  // any bucket opens. A df=0 term contributes no posting and no
  // score, so the drop can never move an answer — it only skips the
  // dead term's bucket read. The in-plan require pins exactly that:
  // the serve with a garbage term opens no more files than the live
  // terms' buckets hold. The oracle scores the same three terms from
  // scratch; DuckDB's `w IN (…)` naturally matches nothing for the
  // garbage term, so bit-equality proves the skip is free.
  private def q228TermFilter(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q228", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      out, filesPerBucket = 2)
    val res = TextIndex.topK(s, out,
      Seq("vector", "qqzzabsent", "stream"), 10)
    // files the LIVE terms' buckets hold — the garbage term's bucket
    // must not be opened even when it differs from both live buckets
    val liveBuckets = s.range(1)
      .select(explode(array(
        pmod(xxhash64(lit("vector")), lit(8)).cast("int"),
        pmod(xxhash64(lit("stream")), lit(8)).cast("int"))).as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val deadBucket = s.range(1)
      .select(pmod(xxhash64(lit("qqzzabsent")), lit(8)).cast("int").as("tb"))
      .head().getInt(0)
    require(!liveBuckets.contains(deadBucket),
      "test setup: the garbage term must hash to its own bucket")
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInLive = liveBuckets.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInLive,
      s"an absent term must not open its bucket (live terms hold " +
        s"$filesInLive files)")
    res
  }

  private lazy val q228Sql = bm25Sql(Seq("vector", "qqzzabsent", "stream"), 10)

  // --------------------------------------------------------------- q229
  // Hybrid retrieval SERVED FROM STORES: the q172 pipeline (BM25
  // lexical + dense cosine, reciprocal-rank fused) with both legs
  // answered by persisted indexes instead of corpus scans — the text
  // postings store serves the lexical top-20 (bucket pruning + w-zone
  // skipping, file-skip require in-plan), the IVF postings store
  // serves the dense top-20 at nprobe = numCells (full probe == exact
  // cosine, the q218 exactness argument, so no recall caveat), and
  // rrfFuse folds the two k-sized lists. The oracle is q172's SQL
  // verbatim: two stores + fusion must reproduce the scan pipeline's
  // answer bit-for-bit. At 100 TB this is the RAG serving shape: the
  // corpus is tokenized and cell-assigned ONCE at build; a query
  // touches |terms| buckets + nprobe cells, never the corpus.
  private def q229HybridStore(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q229t", dir)
    val outV = scratch("q229v", dir)
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    TextIndex.build(docs, "doc_id", "text", outT, nBuckets = 8,
      filesPerBucket = 2)
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix, outV)
    val lex = TextIndex.topK(s, outT, Seq("spark", "join", "merge"), 20)
      .select(col("doc_id"), col("score"))
    val textFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, outT).size
    require(graft.plans.PlanProbe.scannedFileCount(lex) < textFiles,
      s"the lexical leg must stay inside its terms' buckets " +
        s"($textFiles data files)")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val dense = Similarity.ivfStoreTopK(s, outV, "vec_id", "embedding", qv,
        ix, k = 20, nprobe = ix.cids.size, excludeId = Some(0L))
      .select(col("vec_id").as("doc_id"), col("sim").as("score"))
    Similarity.rrfFuse(Seq(lex, dense), "doc_id", c = 60, k = 10)
  }

  // q172's oracle verbatim — the whole point: the stores serve the
  // scan pipeline's exact answer
  private lazy val q229Sql = q172Sql

  // --------------------------------------------------------------- q230
  // BATCHED store-served BM25 (TextIndex.topKBatch): top-k per query
  // for a whole query frame in ONE job — the text analog of the q216
  // batched ANN serve. Per-query terms hash to buckets map-side, the
  // store partition-prunes to the union of probed buckets, each
  // bucket is read once for every query probing it, per-(doc, term)
  // contributions are shared across queries, and ranking runs through
  // the bounded TopK aggregator. Query 2 carries one absent term
  // (scored over its live term only), query 3 is ALL absent (no
  // output rows — the engine-side term filter drops it before any
  // bucket is probed). The oracle replays the same four VALUES-frame
  // queries over the corpus from scratch.
  private def q230TextBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q230", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("vector", "stream")),
      (1L, Seq("join", "merge", "filter")),
      (2L, Seq("window", "qqzzabsent")),
      (3L, Seq("qqzznope1", "qqzznope2"))).toDF("query_id", "terms")
    val res = TextIndex.topKBatch(s, out, queries, "query_id", "terms", 5)
    // exact scan budget: the serve reads each probed bucket TWICE (one
    // pass for df, one to score — the same two-pass discipline as the
    // per-query serve) and must never touch an unprobed bucket. Probed
    // buckets recomputed here with the writer's own hash for the six
    // live terms; the two absent-term queries must add nothing.
    val live = Seq("vector", "stream", "join", "merge", "filter", "window")
    import s.implicits._
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * filesInProbed,
      s"the batched serve must stay inside the probed buckets " +
        s"(2 passes x $filesInProbed probed files; store holds " +
        s"${allFiles.size})")
    res
  }

  private val q230Sql =
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |qs(query_id, w) AS (SELECT * FROM (VALUES
       |  (0, 'vector'), (0, 'stream'),
       |  (1, 'join'), (1, 'merge'), (1, 'filter'),
       |  (2, 'window'), (2, 'qqzzabsent'),
       |  (3, 'qqzznope1'), (3, 'qqzznope2'))),
       |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN (SELECT w FROM qs) GROUP BY doc_id, dl, w),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT w, doc_id,
       |    CAST(round(
       |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
       |      * (tf * (1.2e0 + 1)) /
       |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
       |  FROM tf JOIN df USING (w) CROSS JOIN stats),
       |scored AS (SELECT qs.query_id, c.doc_id,
       |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
       |  FROM contrib c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
       |FROM ranked WHERE rn <= 5
       |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q231
  // Tombstoned DELETE from the text postings store — document removal
  // (takedowns, re-crawls, license revocations) WITHOUT rewriting a
  // single posting: the delete appends (doc_id, dl) rows to the
  // `_tombstones` sidecar in one atomic file, the serve anti-joins the
  // deleted-ids-sized set, df is computed from the SURVIVING postings,
  // and n/avgdl subtract exactly from the dl the tombstone rows carry.
  // The oracle rebuilds BM25 from scratch on the surviving corpus —
  // bit-equality proves every scoring input (df, n, avgdl) is exactly
  // what a full rebuild would produce. The re-delete must be a no-op
  // (a double subtraction would skew avgdl and break the equality),
  // and serving must stay bucket-pruned through the anti-join.
  private def q231TextDelete(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q231", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    val doomed = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    require(TextIndex.delete(s, out, doomed, "doc_id") > 0L,
      "the delete must tombstone something")
    require(TextIndex.delete(s, out, doomed, "doc_id") == 0L,
      "re-deleting the same ids must be a no-op")
    val res = TextIndex.topK(s, out, Seq("vector", "stream", "window"), 15)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the serve must stay inside the terms' buckets through the " +
        s"tombstone anti-join ($dataFiles data files)")
    res
  }

  private val q231Sql = bm25Sql(Seq("vector", "stream", "window"), 15,
    corpus = "(SELECT * FROM documents WHERE doc_id % 5 <> 0)")

  // --------------------------------------------------------------- q232
  // Tombstone PURGE: compaction is the delete lifecycle's physical
  // arm — the rewrite anti-joins the tombstone set, bakes the exact
  // (n, Σdl) subtraction into one stats adjustment row, carries
  // `_doclen` minus the purged docs, and the atomic swap clears the
  // tombstones in the same step. Serves must be bit-identical on both
  // sides of the purge (pinned in-query), the purged ids must be
  // physically gone from the postings (raw-read semi-join empty), and
  // the oracle pins the absolute answer on the surviving corpus.
  private def q232TextPurge(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q232", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    val doomed = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    TextIndex.delete(s, out, doomed, "doc_id")
    def serve() = TextIndex.topK(s, out, Seq("filter", "sort", "batch"), 12)
    val first = serve().collect().toSeq
    TextIndex.compact(s, out, filesPerBucket = 2)
    require(!graft.sinks.HadoopSwap.exists(s, s"$out/_tombstones"),
      "a purging compaction must clear the tombstone sidecar")
    require(s.read.parquet(out)
        .join(doomed, Seq("doc_id"), "left_semi").limit(1).count() == 0L,
      "purged docs must be physically gone from the postings")
    val res = serve()
    require(res.collect().toSeq == first,
      "the purge must serve bit-identical results")
    res
  }

  private val q232Sql = bm25Sql(Seq("filter", "sort", "batch"), 12,
    corpus = "(SELECT * FROM documents WHERE doc_id % 5 <> 0)")

  // --------------------------------------------------------------- q233
  // Tombstoned delete + purge for the IVF postings store: the vector
  // sibling of q231/q232 — ids append to `_tombstones` atomically,
  // serves anti-join the deleted-ids-sized set (no stats to reverse:
  // a kNN over the survivors needs nothing but the survivors), and
  // compactIvfStore physically purges + clears in one swap, serving
  // bit-identically across it. Full probe (nprobe = numCells) makes
  // the serve EXACT, so the oracle is brute-force cosine top-k over
  // the surviving embeddings — no recall caveat, the q218 argument.
  private def q233IvfDelete(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q233", dir)
    val emb = t(s, dir, "embeddings")
    val ix = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
    Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix, out)
    val doomed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    require(Similarity.ivfStoreDelete(s, out, doomed, "vec_id") > 0L,
      "the delete must tombstone something")
    require(Similarity.ivfStoreDelete(s, out, doomed, "vec_id") == 0L,
      "re-deleting the same ids must be a no-op")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    def serve() = Similarity.ivfStoreTopK(s, out, "vec_id", "embedding", qv,
      ix, k = 10, nprobe = ix.cids.size, excludeId = Some(0L))
    val first = serve().collect().toSeq
    Similarity.compactIvfStore(s, out)
    require(!graft.sinks.HadoopSwap.exists(s, s"$out/_tombstones"),
      "a purging compaction must clear the tombstone sidecar")
    require(s.read.parquet(out)
        .join(doomed, Seq("vec_id"), "left_semi").limit(1).count() == 0L,
      "purged vectors must be physically gone from the lists")
    val res = serve()
    require(res.collect().toSeq == first,
      "the purge must serve bit-identical results")
    res
  }

  private val q233Sql =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
       |FROM embeddings CROSS JOIN q
       |WHERE vec_id <> 0 AND vec_id % 7 <> 3
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q234
  // UPDATE through the delete lifecycle: re-ingesting a changed doc is
  // delete -> purge -> append. The middle step is load-bearing — a
  // pending tombstone masks its doc_id entirely (old postings and any
  // shadowing re-append alike), so append REFUSES a batch that re-uses
  // a tombstoned id (pinned in-query: the refused attempt leaves the
  // store untouched because the guard runs before any write). After
  // the purge the updated docs append normally; the oracle scores the
  // corpus with the SAME textual update applied in SQL — bit-equality
  // proves the three-step update composes to exactly a rebuild on the
  // updated corpus (n and Σdl track the edit, df counts each doc
  // once, no stale posting survives).
  private def q234TextUpdate(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q234", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    val upd = docs.filter(col("doc_id") % 11 === 3)
      .select(col("doc_id"),
        concat(col("text"), lit(" graftupdated graftupdated vector"))
          .as("text"))
    TextIndex.delete(s, out, upd.select("doc_id"), "doc_id")
    require(scala.util.Try(
        TextIndex.append(upd, "doc_id", "text", out, filesPerBucket = 2))
      .isFailure,
      "appending tombstoned ids must fail loud, not shadow the tombstone")
    TextIndex.compact(s, out, filesPerBucket = 2)
    TextIndex.append(upd, "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.topK(s, out, Seq("vector", "graftupdated"), 12)
  }

  private val q234Sql = bm25Sql(Seq("vector", "graftupdated"), 12,
    corpus = "(SELECT doc_id, CASE WHEN doc_id % 11 = 3 " +
      "THEN text || ' graftupdated graftupdated vector' ELSE text END " +
      "AS text FROM documents)")

  // --------------------------------------------------------------- q235
  // Tombstoned delete for the LSH SIGNATURE store — the takedown shape
  // for continuous-crawl dedup: a removed document's signatures must
  // stop flagging future near-dups (otherwise a takedown keeps its
  // whole near-dup cluster out of the corpus forever), without
  // rewriting the store. Even docs are the ingested history, a
  // takedown tombstones every 9th of them, odd docs arrive as the next
  // batch through the PRODUCTION ingest (ingestBatch: tombstone-aware
  // store read -> dupes report -> novel append -> compact arm, which
  // purges the tombstones and clears the sidecar in the same swap).
  // The oracle replays the LSH pipeline with the takedown applied as a
  // WHERE on the store side; in-query requires pin the physical purge.
  private def q235LshDelete(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q235", dir)
    val dupes = scratch("q235d", dir)
    val docs = t(s, dir, "documents")
    Dedup.bandSignatures(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, 8, 4)
      .write.mode("overwrite").parquet(out)
    val doomed = docs
      .filter(col("doc_id") % 2 === 0 && col("doc_id") % 9 === 2)
      .select("doc_id")
    require(Dedup.signatureStoreDelete(s, out, doomed, "doc_id") > 0L,
      "the takedown must tombstone something")
    require(Dedup.signatureStoreDelete(s, out, doomed, "doc_id") == 0L,
      "re-deleting the same ids must be a no-op")
    Dedup.ingestBatch(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", out, dupes, compactTargetBytes = Some(1L << 20))
    require(!graft.sinks.HadoopSwap.exists(s, s"$out/_tombstones"),
      "the compact arm must purge the tombstones")
    require(s.read.parquet(out)
        .join(doomed, Seq("doc_id"), "left_semi").limit(1).count() == 0L,
      "purged signatures must be physically gone")
    s.read.parquet(dupes).orderBy(col("doc_id"))
  }

  private val q235Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |store AS (SELECT * FROM bands
       |  WHERE doc_id % 2 = 0 AND NOT (doc_id % 9 = 2)),
       |inc AS (SELECT * FROM bands WHERE doc_id % 2 = 1)
       |SELECT i.doc_id AS doc_id, CAST(COUNT(DISTINCT i.band) AS BIGINT) AS n_bands_hit,
       |  MIN(s.doc_id) AS first_match
       |FROM inc i JOIN store s ON i.band = s.band AND i.bucket = s.bucket
       |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q236
  // BATCHED store-served phrase search (TextIndex.phraseSearchBatch):
  // a query frame of phrases served in ONE job — q230's batched shape
  // for exact adjacency. Per-phrase slots hash to buckets map-side,
  // the store partition-prunes to the union of the surviving queries'
  // buckets, each probed bucket is read once for every query probing
  // it, and the per-(query, doc) shifted-position intersect only runs
  // on docs covering every slot. Query 4 carries a provably-absent
  // term: the engine-side term filter drops the WHOLE query before
  // the bucket union is collected, so it adds no files to the scan —
  // which is exactly what the in-plan require pins. The oracle
  // replays each phrase with q193's scan-everything adjacency SQL and
  // unions the arms.
  private def q236PhraseBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q236", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, Seq("table", "hash")),
      (2L, Seq("merge", "group")),
      (3L, Seq("part", "filter")),
      (4L, Seq("table", "qqzzabsent"))).toDF("query_id", "phrase")
    val res = TextIndex.phraseSearchBatch(s, out, queries,
      "query_id", "phrase")
    // the scan must stay inside the LIVE phrases' buckets — the
    // absent-term query contributes nothing, and unprobed buckets are
    // never opened
    val live = Seq("table", "hash", "merge", "group", "part", "filter")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live phrases must not cover every bucket")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInProbed,
      s"the batched phrase serve must stay inside the live buckets " +
        s"($filesInProbed files; store holds $allFiles)")
    res
  }

  /** q193's per-phrase adjacency SQL, one UNION ALL arm per query of
    * the batch — the absent-term arm matches nothing by construction. */
  private val q236Sql = {
    val phrases = Seq(
      (1, Seq("table", "hash")),
      (2, Seq("merge", "group")),
      (3, Seq("part", "filter")),
      (4, Seq("table", "qqzzabsent")))
    val arms = phrases.map { case (qid, ph) =>
      val conds = ph.zipWithIndex
        .map { case (w, j) => s"toks[i + $j] = '$w'" }.mkString(" AND ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(len(list_filter(range(1, len(toks)),
         |      i -> $conds)) AS BIGINT) AS n_occurrences
         |  FROM t""".stripMargin
    }
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS toks
       |  FROM documents),
       |m AS (${arms.mkString("\n  UNION ALL\n")})
       |SELECT query_id, doc_id, n_occurrences FROM m
       |WHERE n_occurrences > 0 ORDER BY query_id, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q237
  // Store-served PROXIMITY search (TextIndex.nearSearch): docs where
  // two terms co-occur within a slop window — the Lucene SpanNear
  // shape, served from the positional postings store with the same
  // three-layer pruning as the phrase serve (the two terms' buckets,
  // w-zone survivors inside them, corpus never in the plan). The
  // per-doc pair count is tf×tf bounded. The oracle recomputes the
  // windowed pair count from the corpus with DuckDB list algebra —
  // store-served proximity must equal the scan.
  private def q237NearSearch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q237", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.nearSearch(s, out, "vector", "stream", slop = 5)
      .orderBy(col("doc_id"))
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"store-served proximity search must not read the whole postings " +
        s"store ($dataFiles data files)")
    res
  }

  private val q237Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |p AS (SELECT doc_id,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'vector') AS pa,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'stream') AS pb
      |  FROM t),
      |m AS (SELECT doc_id,
      |    CAST(len(flatten(list_transform(pa,
      |      x -> list_filter(pb, y -> abs(y - x) <= 5)))) AS BIGINT) AS n_pairs
      |  FROM p WHERE len(pa) > 0 AND len(pb) > 0)
      |SELECT doc_id, n_pairs FROM m WHERE n_pairs > 0 ORDER BY doc_id"""
      .stripMargin

  // --------------------------------------------------------------- q238
  // BATCHED hybrid retrieval (Similarity.rrfFuseBatch over
  // TextIndex.topKBatch + Similarity.knnJoinIvfStore): a query frame
  // where EACH query has a term set and a query vector, served as
  // exactly three jobs — one batched lexical serve, one batched dense
  // serve, one (queries x k)-sized fusion — instead of a per-query
  // driver loop over q229's single-query hybrid. Query ids are the
  // query vectors' ids, so the dense leg's built-in self-exclusion
  // matches the oracle's. Per query the fused rows are bit-identical
  // to rrfFuse over that query's legs; the oracle replays q172's
  // lexical/dense/fusion SQL once per query and unions the arms.
  private def q238HybridBatch(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q238t", dir)
    val outV = scratch("q238v", dir)
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    // the text arm and the vector arm build concurrently
    val ix = inParallel(Seq(true, false)) { isText =>
      if (isText) {
        TextIndex.build(docs, "doc_id", "text", outT, nBuckets = 8,
          filesPerBucket = 2)
        None
      } else {
        val ix0 = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
        Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix0, outV)
        Some(ix0)
      }
    }.flatten.head
    import s.implicits._
    val qterms = Seq(
      (0L, Seq("spark", "join", "merge")),
      (3L, Seq("vector", "stream")),
      (7L, Seq("filter", "sort"))).toDF("query_id", "terms")
    val lex = TextIndex.topKBatch(s, outT, qterms, "query_id", "terms", 20)
      .select(col("query_id"), col("doc_id"), col("score"))
    // the lexical leg's q230 scan budget: 2 passes (df + score) over
    // only the probed buckets' files
    val live = Seq("spark", "join", "merge", "vector", "stream",
      "filter", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, outT)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(lex) <= 2L * filesInProbed,
      s"the batched lexical leg must stay inside the probed buckets " +
        s"(2 passes x $filesInProbed probed files; store holds " +
        s"${allFiles.size})")
    val qvecs = emb.filter(col("vec_id").isin(0L, 3L, 7L))
    val dense = Similarity.knnJoinIvfStore(s, outV, qvecs,
        "vec_id", "embedding", k = 20, index = ix, nprobe = ix.cids.size)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("sim").as("score"))
    Similarity.rrfFuseBatch(Seq(lex, dense), "doc_id", c = 60, k = 10)
  }

  // q172's lexical/dense/fusion SQL, one arm per query of the batch
  private val q238Sql = {
    val queries = Seq(
      (0, Seq("spark", "join", "merge")),
      (3, Seq("vector", "stream")),
      (7, Seq("filter", "sort")))
    val arms = queries.map { case (vid, terms) =>
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""tf$vid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
         |  WHERE w IN ($inList) GROUP BY doc_id, dl, w),
         |dfx$vid AS (SELECT w, COUNT(*) AS df FROM tf$vid GROUP BY w),
         |contrib$vid AS (SELECT doc_id,
         |    CAST(round(
         |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
         |      * (tf * (1.2e0 + 1)) /
         |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
         |  FROM tf$vid JOIN dfx$vid USING (w) CROSS JOIN stats),
         |lex$vid AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
         |  FROM contrib$vid GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |fq$vid AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $vid),
         |dense$vid AS (SELECT e.vec_id AS doc_id,
         |    ${cosSql("e.embedding", s"fq$vid.qv")} AS score
         |  FROM embeddings e CROSS JOIN fq$vid WHERE e.vec_id <> $vid
         |  ORDER BY score DESC, doc_id LIMIT 20),
         |lr$vid AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM lex$vid),
         |dr$vid AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM dense$vid),
         |top$vid AS (SELECT CAST($vid AS BIGINT) AS query_id, doc_id,
         |    round(COALESCE(1.0 / (60.0 + lr$vid.r), 0.0) +
         |          COALESCE(1.0 / (60.0 + dr$vid.r), 0.0), 6) AS rrf
         |  FROM lr$vid FULL JOIN dr$vid USING (doc_id)
         |  ORDER BY rrf DESC, doc_id LIMIT 10)""".stripMargin
    }
    val union = queries.map { case (vid, _) => s"SELECT * FROM top$vid" }
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |${arms.mkString(",\n")}
       |$union
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q239
  // Pseudo-relevance-feedback expansion (TextIndex.topKExpanded): the
  // RM/Rocchio family's deterministic core — serve the seed terms,
  // mine the top feedback docs' strongest new terms (total tf, ties
  // by term), re-serve the expanded set. Two store serves (each with
  // the full bucket/zone/pushdown pruning stack) + one fbDocs-sized
  // corpus probe; postings are term-major, so feedback-doc term
  // mining goes through the corpus row lookup, never a store scan.
  // The oracle replays seed ranking, expansion mining, and expanded
  // ranking from the corpus — the data-dependent term set rides a
  // CTE join, so engine and oracle derive the SAME expansion or the
  // hashes differ.
  private def q239PrfExpand(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q239", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    val res = TextIndex.topKExpanded(s, out, docs, "doc_id", "text",
      Seq("vector", "stream"), k = 12, fbDocs = 5, fbTerms = 3)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the expanded serve must still prune to its terms' buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q239Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |tf0 AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('vector', 'stream') GROUP BY doc_id, dl, w),
      |df0 AS (SELECT w, COUNT(*) AS df FROM tf0 GROUP BY w),
      |contrib0 AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf0 JOIN df0 USING (w) CROSS JOIN stats),
      |fb AS (SELECT doc_id FROM (
      |  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
      |  FROM contrib0 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 5)),
      |expn AS (SELECT w FROM (
      |  SELECT w, COUNT(*) AS tf
      |  FROM (SELECT unnest(toks) AS w FROM b2 JOIN fb USING (doc_id))
      |  WHERE w <> '' AND w NOT IN ('vector', 'stream')
      |  GROUP BY w ORDER BY tf DESC, w LIMIT 3)),
      |qt AS (SELECT 'vector' AS w UNION ALL SELECT 'stream' UNION ALL
      |       SELECT w FROM expn),
      |tf1 AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM qt) GROUP BY doc_id, dl, w),
      |df1 AS (SELECT w, COUNT(*) AS df FROM tf1 GROUP BY w),
      |contrib1 AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf1 JOIN df1 USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib1 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 12"""
      .stripMargin

  // --------------------------------------------------------------- q240
  // nDCG@k ranking eval (Similarity.ndcgAtK): the graded-relevance,
  // order-aware retrieval metric next to q144's recall@k — per query,
  // DCG over the system ranking (md5-pseudo scores here, determinism
  // over realism) normalized by the ideal DCG from the qrels. Gain
  // terms round to 6 decimals and sum as DECIMAL(28,6) (the repo
  // float-parity rules), so the oracle reproduces every ratio
  // bit-for-bit. Windows partition by query; everything after the
  // rank filter is (queries x k)-sized.
  private def q240NdcgEval(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(typedLit(Seq(0L, 1L, 2L, 3L))).as("query_id"))
    val results = base.withColumn("score",
      expr("substring(md5(concat(CAST(query_id AS STRING), ':', " +
        "CAST(doc_id AS STRING))), 1, 8)"))
    val qrels = base.withColumn("rel",
      when((col("doc_id") + col("query_id")) % 11 === 0, 2)
        .when((col("doc_id") + col("query_id")) % 7 === 0, 1)
        .otherwise(0))
    Similarity.ndcgAtK(results, qrels, "query_id", "doc_id",
      "score", "rel", k = 10)
  }

  private val q240Sql =
    """WITH b AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS query_id
      |           FROM documents),
      |r AS (SELECT query_id, doc_id,
      |    substring(md5(concat(CAST(query_id AS VARCHAR), ':',
      |                         CAST(doc_id AS VARCHAR))), 1, 8) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY substring(md5(concat(CAST(query_id AS VARCHAR), ':',
      |        CAST(doc_id AS VARCHAR))), 1, 8) DESC, doc_id) AS rank
      |  FROM b),
      |g AS (SELECT query_id, doc_id,
      |    CASE WHEN (doc_id + query_id) % 11 = 0 THEN 2
      |         WHEN (doc_id + query_id) % 7 = 0 THEN 1 ELSE 0 END AS rel
      |  FROM b),
      |dcg AS (SELECT r.query_id,
      |    SUM(CAST(round((pow(2, COALESCE(g.rel, 0)) - 1)
      |      / (ln(r.rank + 1) / ln(2)), 6) AS DECIMAL(28,6))) AS dcg
      |  FROM r LEFT JOIN g ON r.query_id = g.query_id AND r.doc_id = g.doc_id
      |  WHERE r.rank <= 10 GROUP BY r.query_id),
      |ideal AS (SELECT query_id, rel,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rel DESC, doc_id) AS rank
      |  FROM g WHERE rel > 0),
      |idcg AS (SELECT query_id,
      |    SUM(CAST(round((pow(2, rel) - 1)
      |      / (ln(rank + 1) / ln(2)), 6) AS DECIMAL(28,6))) AS idcg
      |  FROM ideal WHERE rank <= 10 GROUP BY query_id)
      |SELECT dcg.query_id,
      |  CASE WHEN COALESCE(idcg.idcg, 0) > 0
      |       THEN round(CAST(dcg.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 6)
      |       ELSE 0.0 END AS ndcg
      |FROM dcg FULL JOIN idcg USING (query_id)
      |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q241
  // Context-window extraction (TextIndex.contextWindows): ±3-token
  // KWIC windows around every match of a term — the training-data
  // span shape (retrieval-pair mining, redaction review). The
  // positional store finds occurrences from the term's ONE bucket
  // (in-plan require); window text comes from a matching-docs-sized
  // corpus probe, never a corpus scan for matches. The oracle
  // re-derives positions and windows with DuckDB list algebra.
  private def q241ContextWindows(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q241", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.contextWindows(s, out, docs, "doc_id", "text",
      "vector", width = 3)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"window extraction must read only the term's bucket " +
        s"($dataFiles data files)")
    res
  }

  private val q241Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |m AS (SELECT doc_id, toks,
      |    unnest(list_filter(range(1, len(toks) + 1), i -> toks[i] = 'vector')) AS q
      |  FROM t)
      |SELECT doc_id, CAST(q - 1 AS BIGINT) AS pos,
      |  array_to_string(list_slice(toks, greatest(1, q - 3),
      |    least(len(toks), q + 3)), ' ') AS snippet
      |FROM m ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------- q242
  // Conjunctive containment (TextIndex.containingAll): docs holding
  // ALL query terms — the boolean-AND retrieval primitive, served as
  // rarest-first left-semi intersections over the terms' buckets (the
  // df sketch orders the chain, so every intermediate frame is
  // bounded by the rarest term's postings). The oracle recomputes
  // containment from the corpus; the in-plan require pins the
  // bucket-only scan.
  private def q242ContainsAll(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q242", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      out, filesPerBucket = 2)
    val res = TextIndex.containingAll(s, out,
      Seq("vector", "stream", "window"))
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"conjunctive containment must stay inside the terms' buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q242Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |           FROM documents)
      |SELECT doc_id FROM t
      |WHERE list_contains(toks, 'vector') AND list_contains(toks, 'stream')
      |  AND list_contains(toks, 'window')
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q243
  // MRR@k ranking eval (Similarity.mrrAtK): q240's binary-relevance
  // sibling — per query, the reciprocal rank of the first relevant
  // doc inside the top-10 of the same md5-pseudo ranking; 0 when none
  // makes the cut, and every query appears so the caller's mean is
  // over the full set. Pure-integer ranks keep the ratio exact on any
  // engine.
  private def q243MrrEval(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(typedLit(Seq(0L, 1L, 2L, 3L))).as("query_id"))
    val results = base.withColumn("score",
      expr("substring(md5(concat(CAST(query_id AS STRING), ':', " +
        "CAST(doc_id AS STRING))), 1, 8)"))
    val qrels = base.withColumn("rel",
      when((col("doc_id") + col("query_id")) % 37 === 0, 1).otherwise(0))
    Similarity.mrrAtK(results, qrels, "query_id", "doc_id",
      "score", "rel", k = 10)
  }

  private val q243Sql =
    """WITH b AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS query_id
      |           FROM documents),
      |r AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY substring(md5(concat(CAST(query_id AS VARCHAR), ':',
      |        CAST(doc_id AS VARCHAR))), 1, 8) DESC, doc_id) AS rank
      |  FROM b),
      |hit AS (SELECT r.query_id, MIN(r.rank) AS first_rank
      |  FROM r JOIN b ON r.query_id = b.query_id AND r.doc_id = b.doc_id
      |  WHERE r.rank <= 10 AND (b.doc_id + b.query_id) % 37 = 0
      |  GROUP BY r.query_id)
      |SELECT q.query_id,
      |  COALESCE(round(1.0 / hit.first_rank, 6), 0.0) AS rr
      |FROM (SELECT DISTINCT query_id FROM b) q
      |LEFT JOIN hit USING (query_id)
      |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q244
  // BATCHED proximity search (TextIndex.nearSearchBatch): a query
  // frame (query_id, a, b, slop) served in ONE job — q236's batched
  // shape for q237's NEAR semantics, completing the batched family.
  // Each query carries its own slop; query 3's provably-absent term
  // drops the WHOLE query before the bucket union is collected, so it
  // adds no files to the scan (the in-plan require pins the
  // live-buckets bound). The oracle replays q237's windowed pair
  // count once per query and unions the arms.
  private def q244NearBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q244", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, "vector", "stream", 5),
      (2L, "merge", "sort", 3),
      (3L, "table", "qqzzabsent", 4)).toDF("query_id", "a", "b", "slop")
    val res = TextIndex.nearSearchBatch(s, out, queries,
      "query_id", "a", "b", "slop")
    // the scan must stay inside the LIVE queries' buckets — the
    // absent-term query contributes nothing
    val live = Seq("vector", "stream", "merge", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live queries must not cover every bucket")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInProbed,
      s"the batched NEAR serve must stay inside the live buckets " +
        s"($filesInProbed files; store holds $allFiles)")
    res
  }

  /** q237's pair-count SQL, one UNION ALL arm per query of the batch
    * with that query's terms and slop — the absent-term arm matches
    * nothing by construction. */
  private val q244Sql = {
    val qs = Seq((1, "vector", "stream", 5), (2, "merge", "sort", 3),
      (3, "table", "qqzzabsent", 4))
    val arms = qs.map { case (qid, a, b, slop) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(len(flatten(list_transform(
         |      list_filter(range(1, len(toks) + 1), i -> toks[i] = '$a'),
         |      x -> list_filter(
         |        list_filter(range(1, len(toks) + 1), i -> toks[i] = '$b'),
         |        y -> abs(y - x) <= $slop)))) AS BIGINT) AS n_pairs
         |  FROM t""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS toks
       |  FROM documents),
       |m AS (${arms.mkString("\n  UNION ALL\n")})
       |SELECT query_id, doc_id, n_pairs FROM m
       |WHERE n_pairs > 0 ORDER BY query_id, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q245
  // BATCHED context-window extraction (TextIndex.kwicBatch): a query
  // frame (query_id, term, width) served in ONE job — q236's batched
  // shape for q241's KWIC semantics; each query slices with its own
  // width, the corpus probe is one matching-docs-sized join for the
  // whole batch, and the absent-term query drops whole before the
  // bucket union (in-plan require pins the live-buckets bound). The
  // oracle replays q241's window SQL once per query and unions the
  // arms.
  private def q245KwicBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q245", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, "vector", 3),
      (2L, "stream", 2),
      (3L, "qqzzabsent", 4)).toDF("query_id", "term", "width")
    val res = TextIndex.kwicBatch(s, out, docs, "doc_id", "text",
      queries, "query_id", "term", "width")
    val live = Seq("vector", "stream")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live queries must not cover every bucket")
    // the plan holds TWO scans: the store (bounded by the live
    // buckets) and the corpus probe for window text (all corpus files,
    // column-pruned — matching docs is a join, not file pruning)
    val corpusFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val cfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (cfs.getFileStatus(p).isFile) 1
      else cfs.listStatus(p)
        .count(_.getPath.getName.endsWith(".parquet"))
    }
    require(graft.plans.PlanProbe.scannedFileCount(res) <=
        filesInProbed + corpusFiles,
      s"the batched KWIC serve must stay inside the live buckets plus " +
        s"the corpus probe ($filesInProbed + $corpusFiles files; " +
        s"store holds $allFiles)")
    res
  }

  /** q241's window SQL, one UNION ALL arm per query with that query's
    * term and width — the absent-term arm matches nothing. */
  private val q245Sql = {
    val qs = Seq((1, "vector", 3), (2, "stream", 2), (3, "qqzzabsent", 4))
    val arms = qs.map { case (qid, term, width) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(q - 1 AS BIGINT) AS pos,
         |    array_to_string(list_slice(toks, greatest(1, q - $width),
         |      least(len(toks), q + $width)), ' ') AS snippet
         |  FROM (SELECT doc_id, toks,
         |      unnest(list_filter(range(1, len(toks) + 1),
         |        i -> toks[i] = '$term')) AS q
         |    FROM t)""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS toks
       |  FROM documents)
       |${arms.map(a => s"($a)").mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id, pos""".stripMargin
  }

  // --------------------------------------------------------------- q246
  // End-to-end retrieval-eval pipeline: the whole round-11 text
  // surface composed into ONE oracle-checked row — (1) SERVE: q239's
  // PRF-expanded BM25 top-12 from the postings store (two store
  // serves + an fbDocs-sized corpus probe); (2) WINDOWS: q241's ±4
  // KWIC windows around every 'vector' match from the positional
  // store; (3) JUDGE: a doc is relevant iff SOME window also carries
  // 'stream' — proximity-judged pseudo-qrels derived from the
  // windows, not the corpus; (4) EVAL: q240's nDCG@10 and q243's
  // MRR@10 of the served ranking against those qrels. Every stage is
  // a store-served operator; the corpus is only touched by the
  // component serves' own bounded probes. The oracle replays the PRF
  // chain, the window judge, and both metrics in DuckDB — the
  // data-dependent expansion terms and qrels ride CTE joins, so
  // engine and oracle derive the SAME intermediate sets or the
  // hashes differ.
  private def q246RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val outPos = scratch("q246p", dir)
    val docs = t(s, dir, "documents")
    val seed = Seq("vector", "stream")
    // ONE unified positional store serves the whole pipeline — the
    // PRF ranking (BM25 family) and the KWIC window judge (span
    // family) read the same index; until the r13 stats unification
    // this row had to build a second, bag-layout store for the
    // ranking serves (the exact 2x-index cost the unification kills)
    TextIndex.buildPositional(docs, "doc_id", "text", outPos,
      nBuckets = 8, filesPerBucket = 2)
    // (1) serve: PRF-expanded ranking
    val ranking = TextIndex.topKExpanded(s, outPos, docs, "doc_id",
        "text", seed, k = 12, fbDocs = 5, fbTerms = 3)
      .withColumn("query_id", lit(0L))
    // (2) windows + (3) judge: relevant = 'stream' inside a ±4 window
    // of some 'vector' occurrence
    val qrels = TextIndex.contextWindows(s, outPos, docs, "doc_id",
        "text", "vector", width = 4)
      .filter(array_contains(split(col("snippet"), " "), "stream"))
      .select(col("doc_id")).distinct()
      .withColumn("query_id", lit(0L)).withColumn("rel", lit(1))
    // (4) eval: both ranking metrics over the same serve
    val ndcg = Similarity.ndcgAtK(ranking, qrels, "query_id", "doc_id",
      "score", "rel", k = 10)
    val mrr = Similarity.mrrAtK(ranking, qrels, "query_id", "doc_id",
      "score", "rel", k = 10)
    ndcg.join(mrr, Seq("query_id")).orderBy(col("query_id"))
  }

  /** q239's PRF chain + a window-judge qrel CTE + q240/q243's metric
    * algebra, single query (query_id 0). */
  private val q246Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |tf0 AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('vector', 'stream') GROUP BY doc_id, dl, w),
      |df0 AS (SELECT w, COUNT(*) AS df FROM tf0 GROUP BY w),
      |contrib0 AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf0 JOIN df0 USING (w) CROSS JOIN stats),
      |fb AS (SELECT doc_id FROM (
      |  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
      |  FROM contrib0 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 5)),
      |expn AS (SELECT w FROM (
      |  SELECT w, COUNT(*) AS tf
      |  FROM (SELECT unnest(toks) AS w FROM b2 JOIN fb USING (doc_id))
      |  WHERE w <> '' AND w NOT IN ('vector', 'stream')
      |  GROUP BY w ORDER BY tf DESC, w LIMIT 3)),
      |qt AS (SELECT 'vector' AS w UNION ALL SELECT 'stream' UNION ALL
      |       SELECT w FROM expn),
      |tf1 AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM qt) GROUP BY doc_id, dl, w),
      |df1 AS (SELECT w, COUNT(*) AS df FROM tf1 GROUP BY w),
      |contrib1 AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf1 JOIN df1 USING (w) CROSS JOIN stats),
      |ranked AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |  FROM (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
      |        FROM contrib1 GROUP BY doc_id
      |        ORDER BY score DESC, doc_id LIMIT 12)),
      |ft AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |rel AS (SELECT doc_id FROM ft
      |  WHERE len(list_filter(range(1, len(toks) + 1),
      |    i -> toks[i] = 'vector' AND len(list_filter(
      |      range(greatest(1, i - 4), least(len(toks), i + 4) + 1),
      |      j -> toks[j] = 'stream')) > 0)) > 0),
      |dcg AS (SELECT
      |    SUM(CAST(round((pow(2, CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END) - 1)
      |      / (ln(ranked.rank + 1) / ln(2)), 6) AS DECIMAL(28,6))) AS dcg
      |  FROM ranked LEFT JOIN rel ON ranked.doc_id = rel.doc_id
      |  WHERE ranked.rank <= 10),
      |ideal AS (SELECT row_number() OVER (ORDER BY doc_id) AS rank FROM rel),
      |idcg AS (SELECT
      |    SUM(CAST(round((pow(2, 1) - 1)
      |      / (ln(rank + 1) / ln(2)), 6) AS DECIMAL(28,6))) AS idcg
      |  FROM ideal WHERE rank <= 10),
      |hit AS (SELECT MIN(ranked.rank) AS first_rank
      |  FROM ranked JOIN rel ON ranked.doc_id = rel.doc_id
      |  WHERE ranked.rank <= 10)
      |SELECT CAST(0 AS BIGINT) AS query_id,
      |  CASE WHEN COALESCE(idcg.idcg, 0) > 0
      |       THEN round(CAST(dcg.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 6)
      |       ELSE 0.0 END AS ndcg,
      |  COALESCE(round(1.0 / hit.first_rank, 6), 0.0) AS rr
      |FROM dcg, idcg, hit""".stripMargin

  // --------------------------------------------------------------- q247
  // BATCHED conjunctive containment (TextIndex.containingAllBatch):
  // a query frame (query_id, terms[]) served in ONE job — the last
  // single-query text serve gains its batched form, completing the
  // family (BM25 q230, phrase q236, NEAR q244, KWIC q245, AND q247).
  // Per query identical to q242's serve; the batched plan trades the
  // rarest-first chain for the cover-every-term count so one pass
  // over the probed-bucket union serves every query. The absent-term
  // query drops whole (in-plan live-buckets require). The oracle
  // replays q242's containment SQL once per query and unions arms.
  private def q247ContainsBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q247", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, Seq("vector", "stream", "window")),
      (2L, Seq("merge", "sort")),
      (3L, Seq("table", "qqzzabsent"))).toDF("query_id", "terms")
    val res = TextIndex.containingAllBatch(s, out, queries,
      "query_id", "terms")
    val live = Seq("vector", "stream", "window", "merge", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live queries must not cover every bucket")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInProbed,
      s"the batched containment serve must stay inside the live " +
        s"buckets ($filesInProbed files; store holds $allFiles)")
    res
  }

  /** q242's containment SQL, one UNION ALL arm per query — the
    * absent-term arm matches nothing by construction. */
  private val q247Sql = {
    val qs = Seq((1, Seq("vector", "stream", "window")),
      (2, Seq("merge", "sort")), (3, Seq("table", "qqzzabsent")))
    val arms = qs.map { case (qid, terms) =>
      val conds = terms.map(w => s"list_contains(toks, '$w')")
        .mkString(" AND ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id
         |  FROM t WHERE $conds""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |           FROM documents)
       |${arms.map(a => s"($a)").mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q248
  // BATCHED PRF expansion (TextIndex.topKExpandedBatch): q239's
  // RM/Rocchio core for a whole query frame in FOUR jobs — batched
  // seed serve, ONE union-of-feedback-docs corpus probe, per-query
  // window-mined top-fbTerms (engine-side: unlike the single API the
  // expansion never touches the driver), batched expanded serve. Per
  // query bit-identical to topKExpanded. The oracle replays the whole
  // per-query PRF chain (seed ranking, expansion mining, expanded
  // ranking) once per arm with arm-scoped CTEs — the data-dependent
  // expansion rides CTE joins, so engine and oracle derive the SAME
  // term sets or the hashes differ.
  private def q248PrfBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q248", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, Seq("vector", "stream")),
      (2L, Seq("merge", "sort")),
      (3L, Seq("table", "group"))).toDF("query_id", "terms")
    TextIndex.topKExpandedBatch(s, out, docs, "doc_id", "text",
      queries, "query_id", "terms", k = 10, fbDocs = 5, fbTerms = 3)
  }

  /** One PRF chain per arm, arm-scoped CTE names, shared corpus/stats
    * CTEs — q239's SQL parameterized by (qid, seeds). */
  private def prfArmSql(qid: Int, seeds: Seq[String], k: Int,
                        fbDocs: Int, fbTerms: Int): String = {
    val inSeeds = seeds.map(w => s"'$w'").mkString(", ")
    val contrib =
      """CAST(round(
        |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
        |      * (tf * (1.2e0 + 1)) /
        |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c"""
        .stripMargin
    s"""tf0_$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN ($inSeeds) GROUP BY doc_id, dl, w),
       |df0_$qid AS (SELECT w, COUNT(*) AS df FROM tf0_$qid GROUP BY w),
       |contrib0_$qid AS (SELECT doc_id, $contrib
       |  FROM tf0_$qid JOIN df0_$qid USING (w) CROSS JOIN stats),
       |fb_$qid AS (SELECT doc_id FROM (
       |  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
       |  FROM contrib0_$qid GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT $fbDocs)),
       |expn_$qid AS (SELECT w FROM (
       |  SELECT w, COUNT(*) AS tf
       |  FROM (SELECT unnest(toks) AS w FROM b2 JOIN fb_$qid USING (doc_id))
       |  WHERE w <> '' AND w NOT IN ($inSeeds)
       |  GROUP BY w ORDER BY tf DESC, w LIMIT $fbTerms)),
       |qt_$qid AS (${seeds.map(w => s"SELECT '$w' AS w")
          .mkString(" UNION ALL ")} UNION ALL SELECT w FROM expn_$qid),
       |tf1_$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN (SELECT w FROM qt_$qid) GROUP BY doc_id, dl, w),
       |df1_$qid AS (SELECT w, COUNT(*) AS df FROM tf1_$qid GROUP BY w),
       |contrib1_$qid AS (SELECT doc_id, $contrib
       |  FROM tf1_$qid JOIN df1_$qid USING (w) CROSS JOIN stats),
       |arm_$qid AS (SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
       |    n_terms, score FROM (
       |  SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
       |  FROM contrib1_$qid GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT $k))""".stripMargin
  }

  private val q248Sql = {
    val qs = Seq((1, Seq("vector", "stream")), (2, Seq("merge", "sort")),
      (3, Seq("table", "group")))
    val arms = qs.map { case (qid, seeds) =>
      prfArmSql(qid, seeds, k = 10, fbDocs = 5, fbTerms = 3) }
    val union = qs.map { case (qid, _) => s"SELECT * FROM arm_$qid" }
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |${arms.mkString(",\n")}
       |SELECT query_id, doc_id, n_terms, score FROM ($union)
       |ORDER BY query_id, score DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q249
  // SPAN-NOT search (TextIndex.notNearSearch): occurrences of a term
  // CLEAR of another — q237's exclusion sibling (Lucene SpanNot),
  // the negative-evidence primitive (redaction review, "X but not
  // near Y" mining). Per doc the count of 'vector' positions with no
  // 'stream' inside ±4; a provably-absent exclusion term means every
  // occurrence is clear and only the kept term's bucket opens. The
  // oracle recomputes clear counts with DuckDB list algebra.
  private def q249NotNear(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q249", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.notNearSearch(s, out, "vector", "stream", slop = 4)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"SpanNot must stay inside the two terms' buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q249Sql =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |p AS (SELECT doc_id,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'vector') AS pa,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'stream') AS pb
      |  FROM t),
      |m AS (SELECT doc_id,
      |    CAST(len(list_filter(pa, x ->
      |      len(list_filter(pb, y -> abs(y - x) <= 4)) = 0)) AS BIGINT)
      |      AS n_clear
      |  FROM p WHERE len(pa) > 0)
      |SELECT doc_id, n_clear FROM m WHERE n_clear > 0 ORDER BY doc_id"""
      .stripMargin

  // --------------------------------------------------------------- q250
  // Store-served DIRICHLET query-likelihood ranking (TextIndex.lmTopK):
  // the language-model ranker next to BM25 (Lucene LMDirichlet shape)
  // from the SAME postings store — collection term frequency is the
  // exact sum of tf inside each term's bucket, |C| and dl come from
  // the stats/postings already read, so a second ranking family costs
  // zero extra store surface. Same pruning, tombstones, and
  // round-to-6/DECIMAL discipline as BM25; the oracle recomputes the
  // smoothed scores from the corpus.
  private def q250LmRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q250", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      out, filesPerBucket = 2)
    val res = TextIndex.lmTopK(s, out,
      Seq("vector", "stream", "window"), k = 15)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the LM serve must prune to its terms' buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q250Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |           FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
      |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) AS c FROM b2),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('vector', 'stream', 'window') GROUP BY doc_id, dl, w),
      |ctf AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf FROM tf GROUP BY w),
      |scored AS (SELECT doc_id,
      |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * c
      |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
      |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
      |        AS DECIMAL(28,6)) AS cc
      |  FROM tf JOIN ctf USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(cc) AS DOUBLE) AS score
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  // --------------------------------------------------------------- q251
  // UNIFIED-LAYOUT serves (the r12 dual-store fix): ONE positional
  // store — built once, positions riding each posting — serves THREE
  // families from the same files: BM25 (q133's shape), Dirichlet LM
  // (q250's shape), and exact phrase (q227's shape). Possible because
  // the positional postings now carry the bag contract's exact
  // (w, tf, dl) — dropped empty tokens land as '' postings with
  // blanked position lists (TextIndex.tokenizedPositional) — so a
  // 100 TB deployment wanting ranking AND span queries indexes the
  // corpus ONCE instead of paying 2x index storage. Each family's
  // serve carries its own in-plan bucket-prune require; the oracle
  // replays all three families from the corpus and unions the arms.
  private def q251UnifiedStore(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q251", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    val bm = TextIndex.topK(s, out, Seq("spark", "join", "merge"), 15)
    val lm = TextIndex.lmTopK(s, out, Seq("vector", "stream", "window"), 15)
    val ph = TextIndex.phraseSearch(s, out, Seq("table", "scan"))
    Seq("bm25" -> bm, "lm" -> lm, "phrase" -> ph).foreach { case (f, r) =>
      require(graft.plans.PlanProbe.scannedFileCount(r) < dataFiles,
        s"the $f serve must prune to its terms' buckets " +
          s"($dataFiles data files)")
    }
    bm.select(lit("bm25").as("family"), col("doc_id"),
        col("n_terms").as("n"), col("score"))
      .unionByName(lm.select(lit("lm").as("family"), col("doc_id"),
        col("n_terms").as("n"), col("score")))
      .unionByName(ph.select(lit("phrase").as("family"), col("doc_id"),
        col("n_occurrences").as("n"),
        col("n_occurrences").cast("double").as("score")))
      .orderBy(col("family"), col("score").desc, col("doc_id"))
  }

  private val q251Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |              FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS nd,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl,
      |    CAST(SUM(dl) AS DOUBLE) AS csz FROM b2),
      |bmtf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('spark', 'join', 'merge') GROUP BY doc_id, dl, w),
      |bmdf AS (SELECT w, COUNT(*) AS df FROM bmtf GROUP BY w),
      |bmc AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (nd - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6)
      |      AS DECIMAL(28,6)) AS c
      |  FROM bmtf JOIN bmdf USING (w) CROSS JOIN stats),
      |bm AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) AS score
      |  FROM bmc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15),
      |lmtf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('vector', 'stream', 'window') GROUP BY doc_id, dl, w),
      |lmctf AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf
      |  FROM lmtf GROUP BY w),
      |lmsc AS (SELECT doc_id,
      |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * csz
      |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
      |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
      |        AS DECIMAL(28,6)) AS cc
      |  FROM lmtf JOIN lmctf USING (w) CROSS JOIN stats),
      |lm AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(cc) AS DOUBLE) AS score
      |  FROM lmsc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15),
      |ft AS (SELECT doc_id,
      |    list_filter(toks, w -> length(w) > 0) AS ftoks FROM base),
      |ph AS (SELECT doc_id,
      |    CAST(len(list_filter(range(1, len(ftoks)),
      |      i -> ftoks[i] = 'table' AND ftoks[i + 1] = 'scan')) AS BIGINT)
      |      AS n
      |  FROM ft)
      |SELECT 'bm25' AS family, doc_id, CAST(n AS BIGINT) AS n, score FROM bm
      |UNION ALL
      |SELECT 'lm' AS family, doc_id, CAST(n AS BIGINT) AS n, score FROM lm
      |UNION ALL
      |SELECT 'phrase' AS family, doc_id, n, CAST(n AS DOUBLE) AS score
      |FROM ph WHERE n > 0
      |ORDER BY family, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q252
  // BATCHED span-exclusion search (TextIndex.notNearSearchBatch):
  // q249's SpanNot for a whole query frame in ONE job, with
  // ROLE-AWARE Bloom pruning — an absent EXCLUSION term keeps its
  // query alive (every kept occurrence clear, only the kept term's
  // bucket opens) while an absent KEPT term drops its query whole.
  // The oracle replays q249's clear-count list algebra per arm.
  private def q252SpanNotBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q252", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, "vector", "stream", 4),
      (2L, "merge", "sort", 2),
      (3L, "table", "qqzzabsent", 3), // absent exclusion: query stays
      (4L, "qqzzabsent", "table", 3)) // absent kept term: query drops
      .toDF("query_id", "a", "b", "slop")
    val res = TextIndex.notNearSearchBatch(s, out, queries,
      "query_id", "a", "b", "slop")
    // the scan must stay inside the LIVE slots' buckets: q3 opens only
    // 'table' (its exclusion term is provably absent), q4 opens none
    val live = Seq("vector", "stream", "merge", "sort", "table")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live slots must not cover every bucket")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInProbed,
      s"the batched SpanNot serve must stay inside the live buckets " +
        s"($filesInProbed files; store holds $allFiles)")
    res
  }

  /** q249's clear-count SQL, one UNION ALL arm per query of the batch
    * — the absent-exclusion arm keeps every kept occurrence (its
    * inner filter matches nothing), the absent-kept arm produces no
    * rows (its pa list is empty everywhere). */
  private val q252Sql = {
    val qs = Seq((1, "vector", "stream", 4), (2, "merge", "sort", 2),
      (3, "table", "qqzzabsent", 3), (4, "qqzzabsent", "table", 3))
    val arms = qs.map { case (qid, a, b, slop) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(len(list_filter(
         |      list_filter(range(1, len(toks) + 1), i -> toks[i] = '$a'),
         |      x -> len(list_filter(
         |        list_filter(range(1, len(toks) + 1), i -> toks[i] = '$b'),
         |        y -> abs(y - x) <= $slop)) = 0)) AS BIGINT) AS n_clear
         |  FROM t""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS toks
       |  FROM documents),
       |m AS (${arms.mkString("\n  UNION ALL\n")})
       |SELECT query_id, doc_id, n_clear FROM m
       |WHERE n_clear > 0 ORDER BY query_id, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q253
  // BATCHED Dirichlet LM ranking (TextIndex.lmTopKBatch): q250's
  // ranker for a whole query frame in ONE job — and served from a
  // POSITIONAL store, proving the unified layout under the batched
  // ranking family too (collection tf, |C|, dl all come from the same
  // files the span serves read). The all-absent query drops before
  // any bucket opens; the oracle replays q250's smoothed scores per
  // arm with each arm's own top-15.
  private def q253LmBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q253", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.appendPositional(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (1L, Seq("vector", "stream", "window")),
      (2L, Seq("merge", "sort")),
      (3L, Seq("qqzzabsent"))).toDF("query_id", "terms")
    val res = TextIndex.lmTopKBatch(s, out, queries,
      "query_id", "terms", k = 15)
    // the serve reads the probed buckets twice (postings scoring +
    // the exact collection-tf aggregate — distinct column pruning, so
    // the two scans don't share an exchange); the budget is therefore
    // 2x the LIVE buckets' files, still strictly inside the store
    val live = Seq("vector", "stream", "window", "merge", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val filesInProbed = probed.map { b =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/tb=$b"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(filesInProbed < allFiles,
      "test setup: the live terms must not cover every bucket")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * filesInProbed,
      s"the batched LM serve must stay inside the live buckets " +
        s"(2x$filesInProbed files; store holds $allFiles)")
    res
  }

  /** q250's Dirichlet SQL, one CTE chain per query arm (each with its
    * own term filter, collection-tf frame, and top-15), unioned. */
  private val q253Sql = {
    val qs = Seq((1, Seq("vector", "stream", "window")),
      (2, Seq("merge", "sort")), (3, Seq("qqzzabsent")))
    val armCtes = qs.map { case (qid, terms) =>
      val inList = terms.map(w => s"'$w'").mkString(", ")
      s"""tf$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
         |  WHERE w IN ($inList) GROUP BY doc_id, dl, w),
         |ctf$qid AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf
         |  FROM tf$qid GROUP BY w),
         |sc$qid AS (SELECT doc_id,
         |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * csz
         |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
         |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
         |        AS DECIMAL(28,6)) AS cc
         |  FROM tf$qid JOIN ctf$qid USING (w) CROSS JOIN stats),
         |top$qid AS (SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    COUNT(*) AS n_terms, CAST(SUM(cc) AS DOUBLE) AS score
         |  FROM sc$qid GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 15)""".stripMargin
    }
    val arms = qs.map { case (qid, _) => s"SELECT * FROM top$qid" }
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |           FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) AS csz FROM b2),
       |${armCtes.mkString(",\n")}
       |${arms.mkString("\nUNION ALL ")}
       |ORDER BY query_id, score DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q254
  // THREE-ARM batched hybrid fusion (Similarity.rrfFuseBatch over
  // BM25 + Dirichlet LM + dense ANN): q238's two-leg composition
  // extended with q250's second ranking family — and BOTH text legs
  // serve from ONE unified positional store (q251's layout), so the
  // whole three-family hybrid costs a single text index plus the IVF
  // store. Exactly four jobs for the batch: batched BM25, batched LM,
  // batched dense serve, one (queries x k)-sized fusion. The oracle
  // replays all three legs per query and fuses with the same
  // argument-order COALESCE sum and round-to-6.
  private def q254TriHybrid(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q254t", dir)
    val outV = scratch("q254v", dir)
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    // the text arm and the vector arm build concurrently
    val ix = inParallel(Seq(true, false)) { isText =>
      if (isText) {
        TextIndex.buildPositional(docs, "doc_id", "text", outT,
          nBuckets = 8, filesPerBucket = 2)
        None
      } else {
        val ix0 = Similarity.trainIvf(emb, "vec_id", "embedding", 8)
        Similarity.ivfStoreBuild(emb, "vec_id", "embedding", ix0, outV)
        Some(ix0)
      }
    }.flatten.head
    import s.implicits._
    val qterms = Seq(
      (0L, Seq("spark", "join", "merge")),
      (3L, Seq("vector", "stream")),
      (7L, Seq("filter", "sort"))).toDF("query_id", "terms")
    val lex = TextIndex.topKBatch(s, outT, qterms, "query_id", "terms", 20)
      .select(col("query_id"), col("doc_id"), col("score"))
    val lm = TextIndex.lmTopKBatch(s, outT, qterms, "query_id", "terms", 20)
      .select(col("query_id"), col("doc_id"), col("score"))
    // both text legs stay inside the probed buckets (2 passes each:
    // df/ctf aggregate + scoring) of the ONE positional store
    val live = Seq("spark", "join", "merge", "vector", "stream",
      "filter", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, outT)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    Seq("BM25" -> lex, "LM" -> lm).foreach { case (leg, r) =>
      require(graft.plans.PlanProbe.scannedFileCount(r) <= 2L * filesInProbed,
        s"the batched $leg leg must stay inside the probed buckets " +
          s"(2 passes x $filesInProbed files; store holds ${allFiles.size})")
    }
    val qvecs = emb.filter(col("vec_id").isin(0L, 3L, 7L))
    val dense = Similarity.knnJoinIvfStore(s, outV, qvecs,
        "vec_id", "embedding", k = 20, index = ix, nprobe = ix.cids.size)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("sim").as("score"))
    Similarity.rrfFuseBatch(Seq(lex, lm, dense), "doc_id", c = 60, k = 10)
  }

  // q238's per-arm SQL plus an LM chain per arm and a three-way fusion
  private val q254Sql = {
    val queries = Seq(
      (0, Seq("spark", "join", "merge")),
      (3, Seq("vector", "stream")),
      (7, Seq("filter", "sort")))
    val arms = queries.map { case (vid, terms) =>
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""htf$vid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
         |  WHERE w IN ($inList) GROUP BY doc_id, dl, w),
         |hdf$vid AS (SELECT w, COUNT(*) AS df FROM htf$vid GROUP BY w),
         |hcb$vid AS (SELECT doc_id,
         |    CAST(round(
         |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
         |      * (tf * (1.2e0 + 1)) /
         |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6)
         |      AS DECIMAL(28,6)) AS c
         |  FROM htf$vid JOIN hdf$vid USING (w) CROSS JOIN stats),
         |hlex$vid AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
         |  FROM hcb$vid GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |hctf$vid AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf
         |  FROM htf$vid GROUP BY w),
         |hls$vid AS (SELECT doc_id,
         |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * csz
         |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
         |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
         |        AS DECIMAL(28,6)) AS cc
         |  FROM htf$vid JOIN hctf$vid USING (w) CROSS JOIN stats),
         |hlm$vid AS (SELECT doc_id, CAST(SUM(cc) AS DOUBLE) AS score
         |  FROM hls$vid GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |hfq$vid AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $vid),
         |hdn$vid AS (SELECT e.vec_id AS doc_id,
         |    ${cosSql("e.embedding", s"hfq$vid.qv")} AS score
         |  FROM embeddings e CROSS JOIN hfq$vid WHERE e.vec_id <> $vid
         |  ORDER BY score DESC, doc_id LIMIT 20),
         |hlr$vid AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM hlex$vid),
         |hmr$vid AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM hlm$vid),
         |hdr$vid AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM hdn$vid),
         |htop$vid AS (SELECT CAST($vid AS BIGINT) AS query_id, doc_id,
         |    round(COALESCE(1.0 / (60.0 + hlr$vid.r), 0.0) +
         |          COALESCE(1.0 / (60.0 + hmr$vid.r), 0.0) +
         |          COALESCE(1.0 / (60.0 + hdr$vid.r), 0.0), 6) AS rrf
         |  FROM hlr$vid FULL JOIN hmr$vid USING (doc_id)
         |    FULL JOIN hdr$vid USING (doc_id)
         |  ORDER BY rrf DESC, doc_id LIMIT 10)""".stripMargin
    }
    val union = queries.map { case (vid, _) => s"SELECT * FROM htop$vid" }
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl,
       |    CAST(SUM(dl) AS DOUBLE) AS csz FROM b2),
       |${arms.mkString(",\n")}
       |$union
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q255
  // WILDCARD (prefix-expanded) BM25 — Lucene's PrefixQuery family
  // against the postings store. Term expansion needs the store's term
  // STRINGS, which live only inside the postings: the opt-in `_vocab`
  // sidecar (per-batch (bid, w, df) rows, batch-only extension on
  // every append, fold-on-threshold, exact rebuild at compaction)
  // keeps every expansion VOCAB-sized instead of store-sized. The
  // lifecycle proves the sidecar end to end: build two-thirds,
  // buildVocab, append the last third — the batch-only extension must
  // land the union's exact df, because expansion ORDER depends on it
  // — then expand 's*' to the top-4 terms by (df desc, w) and serve
  // summed BM25 through the existing bucket-pruned topK. The oracle
  // replays expansion + ranking from the raw corpus.
  private def q255WildcardRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q255", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
      "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), "doc_id",
      "text", out, filesPerBucket = 2)
    val res = TextIndex.wildcardTopK(s, out, "s", 12, maxTerms = 4)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the expanded serve must prune to the expansion's buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q255Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |exp AS (SELECT w FROM vocab WHERE w LIKE 's%'
      |  ORDER BY vdf DESC, w LIMIT 4),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM exp) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 12""".stripMargin

  // --------------------------------------------------------------- q256
  // FUZZY (edit-distance-expanded) BM25 — Lucene's FuzzyQuery: expand
  // 'bat' to vocabulary terms within 2 Levenshtein edits (nearest
  // first, then df desc, then the term — deterministic), serve from a
  // UNIFIED POSITIONAL store (the vocab sidecar is layout-independent
  // like every other sidecar). The length band prunes the vocab scan
  // engine-side; the oracle skips it (a term outside the band cannot
  // be within maxDist anyway) and replays plain levenshtein.
  private def q256FuzzyRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q256", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    val res = TextIndex.fuzzyTopK(s, out, "bat", maxDist = 2, k = 12,
      maxTerms = 4)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the fuzzy serve must prune to the expansion's buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q256Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |exp AS (SELECT w FROM vocab WHERE levenshtein(w, 'bat') <= 2
      |  ORDER BY levenshtein(w, 'bat'), vdf DESC, w LIMIT 4),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM exp) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 12""".stripMargin

  // --------------------------------------------------------------- q257
  // BATCHED wildcard BM25 — a whole prefix-query frame in the
  // topKBatch job count: the expansion is ONE vocab-sized join
  // (queries broadcast against the (w, df) dictionary), each query
  // keeps its own top-maxTerms by (df desc, w) through a
  // query-partitioned rank, and the expanded frame delegates to the
  // batched serve — per-query rows bit-identical to the wildcardTopK
  // loop, every probed bucket read once for the whole batch. A query
  // matching no term drops whole (the batched family's dead-query
  // convention); the in-plan budget pins the 2-pass probed-bucket
  // read.
  private def q257WildcardBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q257", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    import s.implicits._
    val queries = Seq((0L, "s"), (1L, "w"), (2L, "qqzz"))
      .toDF("query_id", "prefix")
    val res = TextIndex.wildcardTopKBatch(s, out, queries,
      "query_id", "prefix", 5, maxTerms = 3)
    // the deterministic expansion at any SF: the top-3 's' terms plus
    // 'window' — recompute their buckets with the writer's own hash
    val live = TextIndex.expandPrefix(s, out, "s", maxTerms = 3) ++
      TextIndex.expandPrefix(s, out, "w", maxTerms = 3)
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * filesInProbed,
      s"the batched expanded serve must stay inside the probed buckets " +
        s"(2 passes x $filesInProbed files; store holds ${allFiles.size})")
    res
  }

  private val q257Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |pref(query_id, p) AS (SELECT * FROM (VALUES
      |  (0, 's'), (1, 'w'), (2, 'qqzz'))),
      |cand AS (SELECT query_id, w, vdf FROM pref
      |  JOIN vocab ON w LIKE p || '%'),
      |qs AS (SELECT query_id, w FROM (SELECT query_id, w,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY vdf DESC, w) AS rn FROM cand) WHERE rn <= 3),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM qs) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT w, doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats),
      |scored AS (SELECT qs.query_id, c.doc_id,
      |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
      |  FROM contrib c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
      |FROM ranked WHERE rn <= 5
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q258
  // REGEXP term expansion (Lucene's RegexpQuery): vocabulary terms
  // matching an anchored pattern, df-ranked, served through the same
  // bucket-pruned BM25. rlike (Java find) and DuckDB regexp_matches
  // share partial-match semantics, so the anchored pattern means the
  // same thing to both engines.
  private def q258RegexpRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q258", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    val res = TextIndex.regexpTopK(s, out, "^[bf]a.+", 12)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the regexp serve must prune to the expansion's buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q258Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |exp AS (SELECT w FROM vocab WHERE regexp_matches(w, '^[bf]a.+')
      |  ORDER BY vdf DESC, w LIMIT 64),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM exp) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 12""".stripMargin

  // --------------------------------------------------------------- q259
  // BATCHED fuzzy BM25 (TextIndex.fuzzyTopKBatch): a whole
  // (term, maxDist) query frame in the topKBatch job count, served
  // from a UNIFIED POSITIONAL store. The expansion join carries only
  // the length band (a term outside it cannot be within maxDist), the
  // per-query rank is (distance, df desc, w), and zero-match queries
  // drop whole. The oracle replays the expansion windows and each
  // arm's BM25 from the raw corpus.
  private def q259FuzzyBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q259", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    import s.implicits._
    val queries = Seq((0L, "bat", 2), (1L, "quer", 1), (2L, "qqzzno", 1))
      .toDF("query_id", "term", "maxd")
    val res = TextIndex.fuzzyTopKBatch(s, out, queries,
      "query_id", "term", "maxd", 5, maxTerms = 3)
    // the live expansions' buckets, recomputed with the writer's hash —
    // the batched serve reads each probed bucket twice (df + scoring),
    // never an unprobed one
    val live = TextIndex.expandFuzzy(s, out, "bat", 2, maxTerms = 3) ++
      TextIndex.expandFuzzy(s, out, "quer", 1, maxTerms = 3)
    import s.implicits._
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * filesInProbed,
      s"the batched fuzzy serve must stay inside the probed buckets " +
        s"(2 passes x $filesInProbed files; store holds ${allFiles.size})")
    res
  }

  private val q259Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |fq(query_id, t, maxd) AS (SELECT * FROM (VALUES
      |  (0, 'bat', 2), (1, 'quer', 1), (2, 'qqzzno', 1))),
      |cand AS (SELECT query_id, w, vdf, levenshtein(w, t) AS d
      |  FROM fq JOIN vocab ON levenshtein(w, t) <= maxd),
      |qs AS (SELECT query_id, w FROM (SELECT query_id, w,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY d, vdf DESC, w) AS rn FROM cand) WHERE rn <= 3),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM qs) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT w, doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats),
      |scored AS (SELECT qs.query_id, c.doc_id,
      |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
      |  FROM contrib c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
      |FROM ranked WHERE rn <= 5
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q260
  // BATCHED regexp BM25 (TextIndex.regexpTopKBatch): a whole pattern
  // frame in the topKBatch job count — the per-row pattern rides SQL
  // RLike over ONE vocab-sized pass, per-query candidates rank
  // (df desc, w), dead patterns drop whole. Patterns stay in the
  // Java/RE2-common subset so the oracle's regexp_matches means the
  // same thing.
  private def q260RegexpBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q260", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    import s.implicits._
    val queries = Seq((0L, "^[bf]a.+"), (1L, "^s.*m$"), (2L, "^qqzz"))
      .toDF("query_id", "pat")
    val res = TextIndex.regexpTopKBatch(s, out, queries,
      "query_id", "pat", 5, maxTerms = 3)
    val live = TextIndex.expandRegexp(s, out, "^[bf]a.+", maxTerms = 3) ++
      TextIndex.expandRegexp(s, out, "^s.*m$", maxTerms = 3)
    import s.implicits._
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * filesInProbed,
      s"the batched regexp serve must stay inside the probed buckets " +
        s"(2 passes x $filesInProbed files; store holds ${allFiles.size})")
    res
  }

  private val q260Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |pq(query_id, p) AS (SELECT * FROM (VALUES
      |  (0, '^[bf]a.+'), (1, '^s.*m$'), (2, '^qqzz'))),
      |cand AS (SELECT query_id, w, vdf FROM pq
      |  JOIN vocab ON regexp_matches(w, p)),
      |qs AS (SELECT query_id, w FROM (SELECT query_id, w,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY vdf DESC, w) AS rn FROM cand) WHERE rn <= 3),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM qs) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT w, doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats),
      |scored AS (SELECT qs.query_id, c.doc_id,
      |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
      |  FROM contrib c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
      |FROM ranked WHERE rn <= 5
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q261
  // WILDCARD-SLOT phrase (Lucene's MultiPhraseQuery, built by prefix
  // expansion): 'table s*' — exact adjacency where the second slot
  // accepts ANY vocabulary term starting with 's'. Slot i contributes
  // the UNION over its alternatives of anchor-shifted position sets;
  // a doc matches where every slot's set intersects (phraseSearch's
  // algebra with a per-slot union folded in). maxTerms = 8 exceeds
  // the matching-term count at every SF, so the oracle's expansion
  // list is rank-order-insensitive by construction. Serve stays
  // inside the slots' buckets.
  private def q261WildcardPhrase(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q261", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    val res = TextIndex.phraseSearchWildcard(s, out, Seq("table", "s*"),
      maxTerms = 8).orderBy(col("doc_id"))
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the multi-phrase serve must prune to the slots' buckets " +
        s"($dataFiles data files)")
    res
  }

  private val q261Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |ft AS (SELECT doc_id,
      |    list_filter(toks, w -> length(w) > 0) AS ftoks FROM base),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM base)
      |  WHERE len(w) > 0 GROUP BY w),
      |exp1 AS (SELECT w FROM vocab WHERE w LIKE 's%'
      |  ORDER BY vdf DESC, w LIMIT 8),
      |es AS (SELECT (SELECT list(w) FROM exp1) AS s1),
      |ph AS (SELECT doc_id,
      |    CAST(len(list_filter(range(1, len(ftoks)),
      |      i -> ftoks[i] = 'table' AND list_contains(s1, ftoks[i + 1])))
      |      AS BIGINT) AS n_occurrences
      |  FROM ft CROSS JOIN es)
      |SELECT doc_id, n_occurrences FROM ph
      |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q262
  // FACETED search (the Solr/Elasticsearch facet-count shape): the
  // docs holding EVERY query term — containingAll's rarest-first
  // semi-join chain, bucket-pruned — bucketed by a corpus metadata
  // column with per-facet doc counts. The metadata join touches the
  // corpus table ONCE filtered to the matches (AQE picks the
  // strategy: the match set is corpus-proportional for common terms,
  // so no forced broadcast), and the facet aggregate is
  // partial-before-shuffle. The in-plan budget pins the store side to
  // the two terms' probed buckets plus the one corpus pass.
  private def q262Facets(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q262", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    val res = TextIndex.facetCounts(s, out, Seq("join", "merge"),
      docs, "doc_id", "lang")
    import s.implicits._
    val probed = Seq("join", "merge").toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    val fs = graft.sinks.HadoopSwap.fs(s, dir)
    val cp = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val corpusFiles =
      if (fs.getFileStatus(cp).isFile) 1
      else fs.listStatus(cp).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(graft.plans.PlanProbe.scannedFileCount(res) <=
        2L * filesInProbed + corpusFiles,
      s"the facet serve must stay inside the terms' buckets plus one " +
        s"corpus pass (2 x $filesInProbed + $corpusFiles; store holds " +
        s"${allFiles.size})")
    res
  }

  private val q262Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |m AS (SELECT doc_id FROM (
      |    SELECT doc_id, COUNT(DISTINCT w) AS c FROM
      |      (SELECT doc_id, unnest(toks) AS w FROM base)
      |    WHERE w IN ('join', 'merge') GROUP BY doc_id)
      |  WHERE c = 2)
      |SELECT lang AS facet, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM documents JOIN m USING (doc_id)
      |GROUP BY 1 ORDER BY n_docs DESC, facet""".stripMargin

  // --------------------------------------------------------------- q263
  // MULTI-FIELD BM25F (Robertson's simple BM25F — the Lucene field
  // axis): title (first 3 tokens, boost 2.0, b 0.5) and body (the
  // rest, boost 1.0, b 0.75) are each their OWN standard postings
  // store; the serve combines per-field boosted, length-normalized
  // tf BEFORE saturation and takes idf from the ANY-field df — the
  // shared-saturation property per-field BM25 summing gets wrong.
  // Every per-store read keeps the single-store prunes (term filter,
  // bucket partitions, w-zones, tombstones); the in-plan budget pins
  // 2 passes over each store's probed buckets.
  private def q263Bm25f(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q263t", dir)
    val outB = scratch("q263b", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    TextIndex.build(fielded, "doc_id", "title", outT, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "body", outB, nBuckets = 8,
      filesPerBucket = 2)
    val terms = Seq("join", "merge", "vector")
    val res = TextIndex.bm25fTopK(s,
      Seq(("title", outT, 2.0, 0.5), ("body", outB, 1.0, 0.75)),
      terms, 15)
    import s.implicits._
    val probed = terms.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val budget = Seq(outT, outB).map { out =>
      val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
      val inProbed =
        allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
      require(inProbed < allFiles.size,
        "test setup: some bucket must stay unprobed")
      inProbed
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * budget,
      s"the BM25F serve must stay inside both stores' probed buckets " +
        s"(2 passes x $budget files)")
    res
  }

  private val q263Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |fld AS (SELECT doc_id, toks[1:3] AS tt, toks[4:] AS bt FROM base),
      |st AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(len(tt)) AS DOUBLE) / COUNT(*), 6) AS avt,
      |    round(CAST(SUM(len(bt)) AS DOUBLE) / COUNT(*), 6) AS avb FROM fld),
      |tft AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(tt) AS BIGINT) AS dl, unnest(tt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge', 'vector') GROUP BY 1, 2, 3),
      |tfb AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(bt) AS BIGINT) AS dl, unnest(bt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge', 'vector') GROUP BY 1, 2, 3),
      |u AS (
      |  SELECT doc_id, w, CAST(round(2.0e0 * tf /
      |      (0.5e0 + 0.5e0 * dl / avt), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tft CROSS JOIN st
      |  UNION ALL
      |  SELECT doc_id, w, CAST(round(1.0e0 * tf /
      |      (0.25e0 + 0.75e0 * dl / avb), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tfb CROSS JOIN st),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM u GROUP BY w),
      |wt AS (SELECT doc_id, w, SUM(wtfp) AS wtf FROM u GROUP BY 1, 2),
      |c AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * CAST(wtf AS DOUBLE) / (1.2e0 + CAST(wtf AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS c
      |  FROM wt JOIN df USING (w) CROSS JOIN st)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  // --------------------------------------------------------------- q264
  // BATCHED multi-field BM25F: q263's ranker for a whole query frame
  // in the batched job count — per field the batch's terms filter
  // through that store's bits in-plan and its probed buckets read
  // once for ALL queries; df/wtf are query-independent so the batch
  // shares one computation; per-query top-k rides the bounded TopK
  // aggregator. The dead query drops whole. Oracle replays the shared
  // BM25F tables and each arm's own top-10.
  private def q264Bm25fBatch(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q264t", dir)
    val outB = scratch("q264b", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    TextIndex.build(fielded, "doc_id", "title", outT, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.build(fielded, "doc_id", "body", outB, nBuckets = 8,
      filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join", "merge")),
      (3L, Seq("vector", "stream")),
      (7L, Seq("qqzznope"))).toDF("query_id", "terms")
    val res = TextIndex.bm25fTopKBatch(s,
      Seq(("title", outT, 2.0, 0.5), ("body", outB, 1.0, 0.75)),
      queries, "query_id", "terms", 10)
    val live = Seq("join", "merge", "vector", "stream")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val budget = Seq(outT, outB).map { out =>
      val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
      val inProbed =
        allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
      require(inProbed < allFiles.size,
        "test setup: some bucket must stay unprobed")
      inProbed
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * budget,
      s"the batched BM25F serve must stay inside both stores' probed " +
        s"buckets (2 passes x $budget files)")
    res
  }

  private val q264Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |fld AS (SELECT doc_id, toks[1:3] AS tt, toks[4:] AS bt FROM base),
      |st AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(len(tt)) AS DOUBLE) / COUNT(*), 6) AS avt,
      |    round(CAST(SUM(len(bt)) AS DOUBLE) / COUNT(*), 6) AS avb FROM fld),
      |qs(query_id, w) AS (SELECT * FROM (VALUES
      |  (0, 'join'), (0, 'merge'),
      |  (3, 'vector'), (3, 'stream'), (7, 'qqzznope'))),
      |tft AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(tt) AS BIGINT) AS dl, unnest(tt) AS w
      |     FROM fld)
      |  WHERE w IN (SELECT w FROM qs) GROUP BY 1, 2, 3),
      |tfb AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(bt) AS BIGINT) AS dl, unnest(bt) AS w
      |     FROM fld)
      |  WHERE w IN (SELECT w FROM qs) GROUP BY 1, 2, 3),
      |u AS (
      |  SELECT doc_id, w, CAST(round(2.0e0 * tf /
      |      (0.5e0 + 0.5e0 * dl / avt), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tft CROSS JOIN st
      |  UNION ALL
      |  SELECT doc_id, w, CAST(round(1.0e0 * tf /
      |      (0.25e0 + 0.75e0 * dl / avb), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tfb CROSS JOIN st),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM u GROUP BY w),
      |wt AS (SELECT doc_id, w, SUM(wtfp) AS wtf FROM u GROUP BY 1, 2),
      |c AS (SELECT w, doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * CAST(wtf AS DOUBLE) / (1.2e0 + CAST(wtf AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS c
      |  FROM wt JOIN df USING (w) CROSS JOIN st),
      |scored AS (SELECT qs.query_id, c.doc_id,
      |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
      |  FROM c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
      |FROM ranked WHERE rn <= 10
      |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q265
  // BATCHED faceted search: q262's facet rollup for a whole
  // conjunctive query frame — the batched containment match set (one
  // bucket-union read for all queries, set-semantic countDistinct
  // gate) joins the corpus metadata ONCE, per-(query, facet) counts
  // aggregate partial-before-shuffle. The query with an absent term
  // drops whole (conjunctive semantics); in-plan budget pins one
  // store pass over the probed buckets plus one corpus pass.
  private def q265FacetsBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q265", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join", "merge")),
      (1L, Seq("vector")),
      (2L, Seq("qqzznope", "join"))).toDF("query_id", "terms")
    val res = TextIndex.facetCountsBatch(s, out, queries,
      "query_id", "terms", docs, "doc_id", "lang")
    val probed = Seq("join", "merge", "vector").toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    val fs = graft.sinks.HadoopSwap.fs(s, dir)
    val cp = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val corpusFiles =
      if (fs.getFileStatus(cp).isFile) 1
      else fs.listStatus(cp).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(graft.plans.PlanProbe.scannedFileCount(res) <=
        filesInProbed + corpusFiles,
      s"the batched facet serve must stay inside the probed buckets " +
        s"plus one corpus pass ($filesInProbed + $corpusFiles)")
    res
  }

  private val q265Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |qs(query_id, w) AS (SELECT * FROM (VALUES
      |  (0, 'join'), (0, 'merge'), (1, 'vector'),
      |  (2, 'qqzznope'), (2, 'join'))),
      |qc AS (SELECT query_id, COUNT(*) AS tcount FROM qs GROUP BY 1),
      |m0 AS (SELECT q.query_id, t.doc_id, COUNT(DISTINCT t.w) AS nm
      |  FROM (SELECT doc_id, unnest(toks) AS w FROM base) t
      |  JOIN qs q ON q.w = t.w GROUP BY 1, 2),
      |m AS (SELECT query_id, doc_id FROM m0 JOIN qc USING (query_id)
      |  WHERE nm = tcount)
      |SELECT CAST(query_id AS BIGINT) AS query_id, lang AS facet,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM documents JOIN m USING (doc_id)
      |GROUP BY 1, 2 ORDER BY query_id, n_docs DESC, facet""".stripMargin

  // --------------------------------------------------------------- q266
  // BLOCK-MAX pruned BM25 (Ding & Suel's block-max WAND / Lucene's
  // MaxScore, file-blocked): the `_blockmax` sidecar carries per-
  // (file, term) cnt/maxtf/mindl, so the serve takes df from the
  // sidecar (ZERO data files for the unpruned serve's whole first
  // pass), sets θ from one probe file per term, and scans ONLY the
  // files whose cap can crack the top-k — row-for-row identical to
  // the unpruned topK, which is exactly what the shared oracle pins.
  // The corpus lands in tf/dl BANDS (build = dense short docs,
  // appends = sparse and long ones) so per-file caps actually vary —
  // the in-plan requires prove files were skipped AND the final plan
  // read survivors only. Single-term serve: the purest MaxScore case
  // (rest-mass zero, skip iff cap(w, f) < θ).
  private def q266PrunedRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q266", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    TextIndex.build(docs.filter(jtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(jtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(jtf === 0 || (jtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.topKPruned(s, out, Seq("join"), 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded corpus must skip low-cap files: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read survivor files only: $st")
    res
  }

  private val q266Sql = bm25Sql(Seq("join"), 5)

  // --------------------------------------------------------------- q267
  // Multi-term block-max pruning: with >1 term a file is skipped only
  // when its best cap PLUS the other terms' global caps stays under θ
  // — so θ must come from docs packing every term near its cap. A
  // deterministic rewrite makes every 11th document a short dense
  // join/merge doc (the oracle replays the same CASE expression);
  // those set θ, and the naturals' sparse/long band gets skipped. The
  // skip bound already carries the full rest-mass, so candidates
  // touching a skipped file are provably sub-θ and the final plan
  // still reads survivors only — no second pass, no completion.
  private def q267PrunedMulti(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q267", dir)
    val dense = "join join join join merge merge merge"
    val docs = t(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 11 === 0, lit(dense))
        .otherwise(col("text")))
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val mtf = size(filter(toks, w => w === "merge"))
    val dl = size(toks)
    val sparse = col("doc_id") % 11 =!= 0 && jtf <= 1 && mtf <= 1 &&
      dl >= 50
    TextIndex.build(docs.filter(col("doc_id") % 11 === 0), "doc_id",
      "text", out, nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(sparse), "doc_id", "text", out,
      filesPerBucket = 2)
    TextIndex.append(docs.filter(col("doc_id") % 11 =!= 0 && !sparse),
      "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.topKPruned(s, out, Seq("join", "merge"), 4)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the sparse band must skip under the dense θ: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read survivor files only: $st")
    res
  }

  private val q267Sql = bm25Sql(Seq("join", "merge"), 4,
    corpus = "(SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN " +
      "'join join join join merge merge merge' ELSE text END AS text " +
      "FROM documents)")

  // --------------------------------------------------------------- q268
  // Block-max pruned DIRICHLET LM: the sidecar's summed tf gives exact
  // ctf with zero data files, and the LM length norm's NEGATIVE
  // contributions exercise the serve's floor adjustment (θ drops by
  // Σ min(0, per-term floor)) and plus-truncated caps — without them
  // a long doc's exact score below its probe partial would over-prune.
  // Same banded corpus as q266; the oracle replays q250's LM shape.
  private def q268PrunedLm(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q268", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    TextIndex.build(docs.filter(jtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(jtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(jtf === 0 || (jtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.lmTopKPruned(s, out, Seq("join"), 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded corpus must skip low-cap files under LM too: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read survivor files only: $st")
    res
  }

  private val q268Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |           FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
      |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) AS c FROM b2),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('join') GROUP BY doc_id, dl, w),
      |ctf AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf FROM tf GROUP BY w),
      |scored AS (SELECT doc_id,
      |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * c
      |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
      |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
      |        AS DECIMAL(28,6)) AS cc
      |  FROM tf JOIN ctf USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(cc) AS DOUBLE) AS score
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- q269
  // BATCHED block-max pruned BM25: the prune algebra runs distributed
  // (per-query θ via a window rank over ONE shared probe read,
  // per-(query, term) rest-mass windows, one caps×queries survivor
  // join), the union of survivor files is read once for every query,
  // and a file every query agrees to skip is never opened. Per-query
  // rows bit-identical to the unpruned batch — the oracle replays the
  // per-query BM25 rankings from the raw corpus. Dead query drops
  // whole (batched-family convention).
  private def q269PrunedBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q269", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val stf = size(filter(toks, w => w === "scan"))
    val gtf = greatest(jtf, stf)
    val dl = size(toks)
    TextIndex.build(docs.filter(gtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(gtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(gtf === 0 || (gtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join")), (1L, Seq("scan")),
      (2L, Seq("qqzznope"))).toDF("query_id", "terms")
    val res = TextIndex.topKPrunedBatch(s, out, queries,
      "query_id", "terms", 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the union must still skip files every query rejects: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read the survivor union only: $st")
    res
  }

  private val q269Sql =
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |qs(query_id, w) AS (SELECT * FROM (VALUES
       |  (0, 'join'), (1, 'scan'), (2, 'qqzznope'))),
       |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN (SELECT w FROM qs) GROUP BY doc_id, dl, w),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT w, doc_id,
       |    CAST(round(
       |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
       |      * (tf * (1.2e0 + 1)) /
       |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
       |  FROM tf JOIN df USING (w) CROSS JOIN stats),
       |scored AS (SELECT qs.query_id, c.doc_id,
       |    COUNT(*) AS n_terms, CAST(SUM(c.c) AS DOUBLE) AS score
       |  FROM contrib c JOIN qs ON qs.w = c.w GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
       |FROM ranked WHERE rn <= 5
       |ORDER BY query_id, score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q270
  // BATCHED wildcard-slot phrase (the last serves outside the batched
  // family, closed): a whole slot-spec frame — literals and `pre*`
  // patterns — expands through ONE vocab-sized join (per-(query,
  // slot) candidates df-ranked, maxTerms-bounded), and the expanded
  // pair frame rides the shared bucket-pruned positional read; per
  // query, rows are bit-identical to the phraseSearchWildcard loop.
  // The unfillable-pattern query drops whole; the in-plan budget pins
  // the slots'-buckets prune.
  private def q270WildPhraseBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q270", dir)
    val docs = t(s, dir, "documents")
    TextIndex.buildPositional(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("table", "s*")), (1L, Seq("vector", "w*")),
      (2L, Seq("qqzznope*", "join"))).toDF("query_id", "slots")
    val res = TextIndex.phraseSearchWildcardBatch(s, out, queries,
      "query_id", "slots", maxTerms = 8)
    val live = Seq("table", "vector") ++
      TextIndex.expandPrefix(s, out, "s", maxTerms = 8) ++
      TextIndex.expandPrefix(s, out, "w", maxTerms = 8)
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
    val filesInProbed =
      allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
    require(filesInProbed < allFiles.size,
      "test setup: some bucket must stay unprobed")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= filesInProbed,
      s"the batched wildcard phrase must stay inside the slots' " +
        s"buckets ($filesInProbed files; store holds ${allFiles.size})")
    res
  }

  private val q270Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |ft AS (SELECT doc_id,
      |    list_filter(toks, w -> length(w) > 0) AS ftoks FROM base),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM base)
      |  WHERE len(w) > 0 GROUP BY w),
      |e0 AS (SELECT w FROM vocab WHERE w LIKE 's%'
      |  ORDER BY vdf DESC, w LIMIT 8),
      |l0 AS (SELECT (SELECT list(w) FROM e0) AS alts),
      |p0 AS (SELECT 0 AS query_id, doc_id,
      |    CAST(len(list_filter(range(1, len(ftoks)),
      |      i -> ftoks[i] = 'table' AND list_contains(alts, ftoks[i + 1])))
      |      AS BIGINT) AS n_occurrences
      |  FROM ft CROSS JOIN l0),
      |e1 AS (SELECT w FROM vocab WHERE w LIKE 'w%'
      |  ORDER BY vdf DESC, w LIMIT 8),
      |l1 AS (SELECT (SELECT list(w) FROM e1) AS alts),
      |p1 AS (SELECT 1 AS query_id, doc_id,
      |    CAST(len(list_filter(range(1, len(ftoks)),
      |      i -> ftoks[i] = 'vector' AND list_contains(alts, ftoks[i + 1])))
      |      AS BIGINT) AS n_occurrences
      |  FROM ft CROSS JOIN l1)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_occurrences
      |FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
      |WHERE n_occurrences > 0 ORDER BY query_id, doc_id""".stripMargin

  // --------------------------------------------------------------- q271
  // BM25F over UNIFIED POSITIONAL field stores — the single-layout
  // story completed across the field axis: a two-field deployment
  // that also wants phrase search keeps ONE positional store per
  // field. Both field stores here are positional; the SAME body store
  // serves the BM25F ranking leg (the unified (w, tf, dl) contract,
  // ''-tail included for sub-4-token docs) AND an exact-adjacency
  // phrase leg, joined into one answer. The oracle replays q263's
  // shared-saturation BM25F plus the body-stream adjacency count.
  private def q271Bm25fPositional(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q271t", dir)
    val outB = scratch("q271b", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    TextIndex.buildPositional(fielded, "doc_id", "title", outT,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildPositional(fielded, "doc_id", "body", outB,
      nBuckets = 8, filesPerBucket = 2)
    val terms = Seq("join", "merge", "vector")
    val ranked = TextIndex.bm25fTopK(s,
      Seq(("title", outT, 2.0, 0.5), ("body", outB, 1.0, 0.75)),
      terms, 15)
    val phrase = TextIndex.phraseSearch(s, outB, Seq("join", "merge"))
    val res = ranked.join(phrase, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_terms"), col("score"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy(col("score").desc, col("doc_id"))
    import s.implicits._
    val probed = terms.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val budget = Seq(outT, outB).map { out =>
      val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
      val inProbed =
        allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
      require(inProbed < allFiles.size,
        "test setup: some bucket must stay unprobed")
      inProbed
    }
    // 2 ranking passes per store + the phrase leg's single pass over
    // its terms' buckets in the body store (join/merge ⊆ terms)
    require(graft.plans.PlanProbe.scannedFileCount(res) <=
        2L * (budget.head + budget.last) + budget.last,
      s"both legs must stay inside the probed buckets ($budget)")
    res
  }

  private val q271Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |fld AS (SELECT doc_id, toks[1:3] AS tt, toks[4:] AS bt FROM base),
      |st AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(len(tt)) AS DOUBLE) / COUNT(*), 6) AS avt,
      |    round(CAST(SUM(len(bt)) AS DOUBLE) / COUNT(*), 6) AS avb FROM fld),
      |tft AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(tt) AS BIGINT) AS dl, unnest(tt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge', 'vector') GROUP BY 1, 2, 3),
      |tfb AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(bt) AS BIGINT) AS dl, unnest(bt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge', 'vector') GROUP BY 1, 2, 3),
      |u AS (
      |  SELECT doc_id, w, CAST(round(2.0e0 * tf /
      |      (0.5e0 + 0.5e0 * dl / avt), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tft CROSS JOIN st
      |  UNION ALL
      |  SELECT doc_id, w, CAST(round(1.0e0 * tf /
      |      (0.25e0 + 0.75e0 * dl / avb), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tfb CROSS JOIN st),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM u GROUP BY w),
      |wt AS (SELECT doc_id, w, SUM(wtfp) AS wtf FROM u GROUP BY 1, 2),
      |c AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * CAST(wtf AS DOUBLE) / (1.2e0 + CAST(wtf AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS c
      |  FROM wt JOIN df USING (w) CROSS JOIN st),
      |rk AS (SELECT doc_id, COUNT(*) AS n_terms,
      |    CAST(SUM(c) AS DOUBLE) AS score
      |  FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15),
      |fb AS (SELECT doc_id,
      |    list_filter(bt, w -> length(w) > 0) AS ftoks FROM fld),
      |ph AS (SELECT doc_id, CAST(len(list_filter(range(1, len(ftoks)),
      |    i -> ftoks[i] = 'join' AND ftoks[i + 1] = 'merge'))
      |    AS BIGINT) AS n_occurrences FROM fb)
      |SELECT rk.doc_id, n_terms, score,
      |    COALESCE(ph.n_occurrences, 0) AS n_occurrences
      |FROM rk LEFT JOIN ph USING (doc_id)
      |ORDER BY score DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q272
  // LEADING-wildcard BM25 (`*er` — Lucene's ReverseWildcard parity):
  // the vocab sidecar carries a reversed-term column and is sorted by
  // it, so suffix expansion is a PREFIX range on `rw` that parquet
  // min/max stats can skip on — a leading wildcard costs what a
  // trailing one does instead of the regexp path's full vocab scan.
  // Expanded terms ride the existing bucket-pruned topK; the oracle
  // replays expansion (LIKE '%er', df-ranked) + ranking from the raw
  // corpus. maxTerms exceeds the match count at every SF, so the
  // oracle's list is rank-order-insensitive.
  private def q272SuffixRank(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q272", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.buildVocab(s, out)
    val res = TextIndex.suffixTopK(s, out, "er", 12, maxTerms = 6)
    val dataFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out).size
    require(graft.plans.PlanProbe.scannedFileCount(res) < dataFiles,
      s"the suffix-expanded serve must prune to the expansion's " +
        s"buckets ($dataFiles data files)")
    res
  }

  private val q272Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM b2)
      |  WHERE len(w) > 0 GROUP BY w),
      |exp AS (SELECT w FROM vocab WHERE w LIKE '%er'
      |  ORDER BY vdf DESC, w LIMIT 6),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM exp) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 12""".stripMargin

  // --------------------------------------------------------------- q273
  // Numeric RANGE facets (Solr facet.range): the conjunctive match
  // set bucketed into [lo, hi) ranges over the corpus's n_chars —
  // every requested range in the output, zero-count included, values
  // outside the outer bounds dropped. The ranges broadcast as a
  // literal frame over the match set; counts aggregate partial-first.
  private def q273FacetRange(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q273", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.facetRangeCounts(s, out, Seq("join", "merge"), docs,
      "doc_id", "n_chars", Seq(0.0, 150.0, 300.0, 450.0, 2000.0, 9000.0))
  }

  private val q273Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |m AS (SELECT doc_id FROM (
      |    SELECT doc_id, COUNT(DISTINCT w) AS c FROM
      |      (SELECT doc_id, unnest(toks) AS w FROM base)
      |    WHERE w IN ('join', 'merge') GROUP BY doc_id)
      |  WHERE c = 2),
      |ranges(lo, hi) AS (SELECT * FROM (VALUES
      |  (0.0, 150.0), (150.0, 300.0), (300.0, 450.0),
      |  (450.0, 2000.0), (2000.0, 9000.0))),
      |cnt AS (SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM documents JOIN m USING (doc_id)
      |  JOIN ranges ON CAST(n_chars AS DOUBLE) >= lo
      |             AND CAST(n_chars AS DOUBLE) < hi
      |  GROUP BY 1, 2)
      |SELECT ranges.lo, ranges.hi, COALESCE(cnt.n_docs, 0) AS n_docs
      |FROM ranges LEFT JOIN cnt USING (lo, hi) ORDER BY ranges.lo""".stripMargin

  // --------------------------------------------------------------- q274
  // Per-facet TOP-K docs (Solr grouping / field collapse): the
  // conjunctive match set ranked by its full BM25 score, 3 best per
  // lang facet — per-facet ranking through the bounded TopK
  // aggregator (a hot facet never funnels its match set through one
  // sort), rank recomputed over the k-bounded survivors. Scores equal
  // the plain ranked serve's (same df/n/avgdl inputs), which the
  // oracle replays.
  private def q274FacetTopDocs(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q274", dir)
    val docs = t(s, dir, "documents")
    TextIndex.build(docs, "doc_id", "text", out, nBuckets = 8,
      filesPerBucket = 2)
    TextIndex.facetTopDocs(s, out, Seq("join", "merge"), docs,
      "doc_id", "lang", 3)
  }

  private val q274Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |m AS (SELECT doc_id FROM (
      |    SELECT doc_id, COUNT(DISTINCT w) AS c FROM
      |      (SELECT doc_id, unnest(toks) AS w FROM base)
      |    WHERE w IN ('join', 'merge') GROUP BY doc_id)
      |  WHERE c = 2),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN ('join', 'merge') GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats),
      |sc AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
      |  FROM contrib GROUP BY doc_id),
      |rk AS (SELECT lang AS facet, doc_id, score, row_number() OVER (
      |    PARTITION BY lang ORDER BY score DESC, doc_id) AS rnk
      |  FROM documents JOIN m USING (doc_id) JOIN sc USING (doc_id))
      |SELECT facet, CAST(rnk AS INT) AS rnk, doc_id, score
      |FROM rk WHERE rnk <= 3 ORDER BY facet, rnk""".stripMargin

  // --------------------------------------------------------------- q275
  // SHARD-SCATTER BM25: the corpus document-partitioned into three
  // stores (the 100 TB serve topology — per tenant / time window /
  // ingest line), one query ranked across all of them under the
  // GLOBAL-df contract: df/n/avgdl sum across shards, so the answer
  // hash-matches ONE store over the union (the oracle's plain BM25) —
  // re-sharding can never reorder results. The only cross-shard
  // exchange is the terms-sized df union; each shard gathers only its
  // k-bounded top (a doc lives in one shard). The in-plan budget pins
  // the per-shard 2-pass probed-bucket shape.
  private def q275ShardedRank(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q275a", dir), scratch("q275b", dir),
      scratch("q275c", dir))
    val docs = t(s, dir, "documents")
    inParallel(outs.zipWithIndex) { case (out, i) =>
      TextIndex.build(docs.filter(col("doc_id") % 3 === i), "doc_id",
        "text", out, nBuckets = 8, filesPerBucket = 2)
    }
    val terms = Seq("vector", "stream", "window")
    val res = TextIndex.topKSharded(s, outs, terms, 15)
    import s.implicits._
    val probed = terms.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val budget = outs.map { out =>
      val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
      val inProbed =
        allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
      require(inProbed < allFiles.size,
        "test setup: some bucket must stay unprobed")
      inProbed
    }.sum
    require(graft.plans.PlanProbe.scannedFileCount(res) <= 2L * budget,
      s"the scatter must stay inside every shard's probed buckets " +
        s"(2 passes x $budget files)")
    res
  }

  private val q275Sql = bm25Sql(Seq("vector", "stream", "window"), 15)

  // --------------------------------------------------------------- q276
  // BATCHED block-max pruned Dirichlet LM — the last ranked serve
  // into the pruned family: ctf from the sidecar's summed tf, the
  // distributed prune algebra with per-query floors for the negative
  // length norm, one survivor-union read. Per-query rows
  // bit-identical to the unpruned lmTopKBatch; the oracle replays
  // q253's per-arm LM shape over the banded corpus.
  private def q276PrunedLmBatch(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q276", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val stf = size(filter(toks, w => w === "scan"))
    val gtf = greatest(jtf, stf)
    val dl = size(toks)
    TextIndex.build(docs.filter(gtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(gtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(gtf === 0 || (gtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join")), (1L, Seq("scan")),
      (2L, Seq("qqzznope"))).toDF("query_id", "terms")
    val res = TextIndex.lmTopKPrunedBatch(s, out, queries,
      "query_id", "terms", 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded corpus must skip under batched LM too: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read the survivor union only: $st")
    res
  }

  private val q276Sql = {
    val qs = Seq((0, Seq("join")), (1, Seq("scan")))
    val armCtes = qs.map { case (qid, terms) =>
      val inList = terms.map(w => s"'$w'").mkString(", ")
      s"""tf$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
         |  WHERE w IN ($inList) GROUP BY doc_id, dl, w),
         |ctf$qid AS (SELECT w, CAST(SUM(tf) AS DOUBLE) AS ctf
         |  FROM tf$qid GROUP BY w),
         |sc$qid AS (SELECT doc_id,
         |    CAST(round(ln(1.0e0 + CAST(tf AS DOUBLE) * csz
         |      / (2000.0e0 * ctf)), 6) AS DECIMAL(28,6))
         |    + CAST(round(ln(2000.0e0 / (CAST(dl AS DOUBLE) + 2000.0e0)), 6)
         |        AS DECIMAL(28,6)) AS cc
         |  FROM tf$qid JOIN ctf$qid USING (w) CROSS JOIN stats),
         |top$qid AS (SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    COUNT(*) AS n_terms, CAST(SUM(cc) AS DOUBLE) AS score
         |  FROM sc$qid GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 5)""".stripMargin
    }
    val arms = qs.map { case (qid, _) => s"SELECT * FROM top$qid" }
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |           FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) AS csz FROM b2),
       |${armCtes.mkString(",\n")}
       |${arms.mkString("\nUNION ALL ")}
       |ORDER BY query_id, score DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q277
  // Sharding COMPOSES with block-max pruning: the q266 tf/dl bands
  // become three SHARDS, global df sums from the shards' _blockmax
  // sidecars (the scatter's whole df pass costs zero data files,
  // where q275 pays a per-shard counting read), and each shard runs
  // the full pruned serve against the GLOBAL idf before the k-bounded
  // gather. Same oracle as q266 — the answer is ONE logical corpus
  // however it is sharded or pruned.
  private def q277ShardedPruned(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q277a", dir), scratch("q277b", dir),
      scratch("q277c", dir))
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    val bands = Seq(
      docs.filter(jtf >= 3),
      docs.filter(jtf.between(1, 2) && dl < 50),
      docs.filter(jtf === 0 || (jtf.between(1, 2) && dl >= 50)))
    inParallel(outs.zip(bands)) { case (out, band) =>
      TextIndex.build(band, "doc_id", "text", out, nBuckets = 8,
        filesPerBucket = 2)
      TextIndex.buildBlockStats(s, out)
    }
    val res = TextIndex.topKShardedPruned(s, outs, Seq("join"), 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded shards must skip under the global θ: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the gathered plan must read survivor files only: $st")
    res
  }

  private val q277Sql = bm25Sql(Seq("join"), 5)

  // --------------------------------------------------------------- q286
  // SCATTER-GATHER BM25F — the field and shard axes composed: the
  // q263 title/body split, document-partitioned into three shards
  // (six physical stores). Global statistics per the scatter
  // contract: n and per-field Σdl sum across shards, and the
  // ANY-FIELD df is the disjoint per-shard sum (docs live in exactly
  // one shard, so cross-shard distinct-doc counting is a plain sum —
  // the statistic per-field sidecars cannot give even locally). The
  // oracle is q263's, verbatim: sharding a fielded corpus must never
  // move a row.
  private def q286Bm25fSharded(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    // all six field stores (3 shards x 2 fields) build concurrently
    inParallel((0 until 3).flatMap { i => Seq(
        (i, "title", scratch(s"q286t$i", dir)),
        (i, "body", scratch(s"q286b$i", dir))) }) { case (i, c, d) =>
      TextIndex.build(fielded.filter(col("doc_id") % 3 === i),
        "doc_id", c, d, nBuckets = 8, filesPerBucket = 2)
    }
    val shards = (0 until 3).map { i =>
      Seq(("title", scratch(s"q286t$i", dir), 2.0, 0.5),
        ("body", scratch(s"q286b$i", dir), 1.0, 0.75))
    }
    TextIndex.bm25fTopKSharded(s, shards,
      Seq("join", "merge", "vector"), 15)
  }

  // --------------------------------------------------------------- q287
  // SCATTER-GATHER facets: the conjunctive match set is the disjoint
  // union of per-shard match sets, so per-facet counts SUM across
  // shards — no statistics exchange exists at all (counts, not
  // scores). Same oracle as the single-store q262.
  private def q287FacetsSharded(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q287a", dir), scratch("q287b", dir),
      scratch("q287c", dir))
    val docs = t(s, dir, "documents")
    inParallel(outs.zipWithIndex) { case (out, i) =>
      TextIndex.build(docs.filter(col("doc_id") % 3 === i), "doc_id",
        "text", out, nBuckets = 8, filesPerBucket = 2)
    }
    TextIndex.facetCountsSharded(s, outs, Seq("join", "merge"),
      docs, "doc_id", "lang")
  }

  // --------------------------------------------------------------- q285
  // BATCHED block-max pruned BM25F — the last cell of the pruned
  // matrix: a whole query frame over the q278 banded field stores,
  // per-query rows bit-identical to the unpruned bm25fTopKBatch. The
  // algebra runs distributed (caps and cross-field folds as sidecar-
  // frame joins, per-query θ via a window rank over one probe read
  // per field, the survivor union via one caps×queries join), the
  // shared exact any-field df pass is materialized once for the whole
  // batch, and the dead query drops whole. The oracle replays each
  // query's shared-saturation BM25F from the rewritten corpus.
  private def q285PrunedBm25fBatch(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q285t", dir)
    val outB = scratch("q285b", dir)
    val dense = Seq.fill(50)("join merge").mkString(" ")
    val docs = t(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 11 === 0, lit(dense))
        .otherwise(col("text")))
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"), size(toks).as("dl"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    val bandA = col("doc_id") % 11 === 0
    val bandB = col("doc_id") % 11 =!= 0 && col("dl") >= 50
    inParallel(Seq(("title", outT), ("body", outB))) { case (c, out) =>
      TextIndex.build(fielded.filter(bandA), "doc_id", c, out,
        nBuckets = 8, filesPerBucket = 2)
      TextIndex.buildBlockStats(s, out)
      TextIndex.append(fielded.filter(bandB), "doc_id", c, out,
        filesPerBucket = 2)
      TextIndex.append(fielded.filter(!bandA && !bandB), "doc_id", c,
        out, filesPerBucket = 2)
    }
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join", "merge")), (1L, Seq("join")),
      (2L, Seq("qqzznope"))).toDF("query_id", "terms")
    val res = TextIndex.bm25fTopKPrunedBatch(s,
      Seq(("title", outT, 2.0, 0.5), ("body", outB, 1.0, 0.75)),
      queries, "query_id", "terms", 10)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the sparse bands must skip under the batched union too: $st")
    res
  }

  private val q285Sql = {
    val qs = Seq((0, Seq("join", "merge")), (1, Seq("join")))
    val armCtes = qs.map { case (qid, terms) =>
      val inList = terms.map(w => s"'$w'").mkString(", ")
      s"""ft$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, CAST(len(tt) AS BIGINT) AS dl, unnest(tt) AS w
         |     FROM fld)
         |  WHERE w IN ($inList) GROUP BY 1, 2, 3),
         |fb$qid AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
         |    (SELECT doc_id, CAST(len(bt) AS BIGINT) AS dl, unnest(bt) AS w
         |     FROM fld)
         |  WHERE w IN ($inList) GROUP BY 1, 2, 3),
         |u$qid AS (
         |  SELECT doc_id, w, CAST(round(2.0e0 * tf /
         |      (0.5e0 + 0.5e0 * dl / avt), 6) AS DECIMAL(28,6)) AS wtfp
         |    FROM ft$qid CROSS JOIN st
         |  UNION ALL
         |  SELECT doc_id, w, CAST(round(1.0e0 * tf /
         |      (0.25e0 + 0.75e0 * dl / avb), 6) AS DECIMAL(28,6)) AS wtfp
         |    FROM fb$qid CROSS JOIN st),
         |df$qid AS (SELECT w, COUNT(DISTINCT doc_id) AS df
         |  FROM u$qid GROUP BY w),
         |wt$qid AS (SELECT doc_id, w, SUM(wtfp) AS wtf
         |  FROM u$qid GROUP BY 1, 2),
         |c$qid AS (SELECT doc_id,
         |    CAST(round(
         |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
         |      * CAST(wtf AS DOUBLE) / (1.2e0 + CAST(wtf AS DOUBLE)), 6)
         |      AS DECIMAL(28,6)) AS c
         |  FROM wt$qid JOIN df$qid USING (w) CROSS JOIN st),
         |top$qid AS (SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
         |  FROM c$qid GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 10)""".stripMargin
    }
    val arms = qs.map { case (qid, _) => s"SELECT * FROM top$qid" }
    s"""WITH rw AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN
       |    trim(repeat('join merge ', 50)) ELSE text END AS text
       |  FROM documents),
       |base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM rw),
       |fld AS (SELECT doc_id, toks[1:3] AS tt, toks[4:] AS bt FROM base),
       |st AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(len(tt)) AS DOUBLE) / COUNT(*), 6) AS avt,
       |    round(CAST(SUM(len(bt)) AS DOUBLE) / COUNT(*), 6) AS avb FROM fld),
       |${armCtes.mkString(",\n")}
       |${arms.mkString("\nUNION ALL ")}
       |ORDER BY query_id, score DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q283
  // SCATTER-GATHER ANN: the embedding corpus document-partitioned
  // into three IVF store shards, EACH WITH ITS OWN TRAINED CODEBOOK —
  // sound without any cross-shard exchange because cosine is ABSOLUTE
  // (a candidate's score never depends on which shard it landed in,
  // unlike idf); per-shard centroids only steer which candidates are
  // considered, the same recall role nprobe plays inside one store.
  // With full per-shard nprobe the scatter is EXACT over the union —
  // the oracle replays brute-force cosine top-k per query — and the
  // k-bounded gather re-ranks shards×k rows. The in-plan require
  // proves the nprobe=1 scatter still partition-prunes to probed
  // cells inside every shard.
  private def q283AnnSharded(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q283a", dir), scratch("q283b", dir),
      scratch("q283c", dir))
    val emb = t(s, dir, "embeddings")
    val shards = inParallel(outs.zipWithIndex) { case (out, i) =>
      val part = emb.filter(col("vec_id") % 3 === i)
      val ix = Similarity.trainIvf(part, "vec_id", "embedding", 4)
      Similarity.ivfStoreBuild(part, "vec_id", "embedding", ix, out)
      (out, ix)
    }
    val qvecs = emb.filter(col("vec_id").isin(0L, 3L, 7L))
    val full = shards.map(_._2.cids.size).max
    val res = Similarity.knnJoinIvfStoreSharded(s, shards, qvecs,
        "vec_id", "embedding", k = 10, nprobe = full)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    // the single-query scatter agrees with the batched one, in-plan
    val q0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    require(Similarity.ivfStoreTopKSharded(s, shards, "vec_id",
          "embedding", q0, k = 10, nprobe = full, excludeId = Some(0L))
        .collect().toSeq ==
      res.filter(col("query_id") === 0L)
        .select(col("vec_id"), col("sim")).collect().toSeq,
      "single and batched ANN scatters must agree per query")
    // approximate mode still prunes: nprobe=1 opens a strict subset
    // of every shard's cell partitions
    val allFiles = outs.map(o =>
      graft.sinks.SkippingStore.listDataFileRelPaths(s, o).size).sum
    val pruned = Similarity.ivfStoreTopKSharded(s, shards, "vec_id",
      "embedding", q0, k = 10, nprobe = 1, excludeId = Some(0L))
    require(graft.plans.PlanProbe.scannedFileCount(pruned) < allFiles,
      s"the nprobe=1 scatter must open probed cells only ($allFiles)")
    res
  }

  private val q283Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id IN (0, 3, 7)),
       |scored AS (SELECT q.query_id, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS sim
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id) AS rn FROM scored)
       |SELECT query_id, vec_id, sim FROM r WHERE rn <= 10
       |ORDER BY query_id, sim DESC, vec_id""".stripMargin

  // --------------------------------------------------------------- q284
  // The SHARDED THREE-ARM HYBRID — q254's composition with every arm
  // scattered: BM25 and Dirichlet LM over three document-partitioned
  // positional store shards (the global-df/ctf contract makes the
  // text arms bit-identical to the union store), the dense arm over
  // three per-codebook IVF shards (absolute distances, exact at full
  // nprobe), fused per query with reciprocal-rank fusion. One logical
  // corpus, three ranking families, nine physical shards — and the
  // oracle is q254's, verbatim: sharding must never move a fused row.
  private def q284ShardedHybrid(s: SparkSession, dir: String): DataFrame = {
    val outsT = Seq(scratch("q284t0", dir), scratch("q284t1", dir),
      scratch("q284t2", dir))
    val outsV = Seq(scratch("q284v0", dir), scratch("q284v1", dir),
      scratch("q284v2", dir))
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    // all six shard stores (3 text + 3 IVF) build as one concurrent
    // wave — disjoint dirs, disjoint slices
    val vshards = inParallel(0 until 6) { j =>
      if (j < 3) {
        TextIndex.buildPositional(docs.filter(col("doc_id") % 3 === j),
          "doc_id", "text", outsT(j), nBuckets = 8, filesPerBucket = 2)
        None
      } else {
        val i = j - 3
        val part = emb.filter(col("vec_id") % 3 === i)
        val ix = Similarity.trainIvf(part, "vec_id", "embedding", 4)
        Similarity.ivfStoreBuild(part, "vec_id", "embedding", ix,
          outsV(i))
        Some((outsV(i), ix))
      }
    }.flatten
    import s.implicits._
    val qterms = Seq(
      (0L, Seq("spark", "join", "merge")),
      (3L, Seq("vector", "stream")),
      (7L, Seq("filter", "sort"))).toDF("query_id", "terms")
    val lex = TextIndex.topKShardedBatch(s, outsT, qterms,
        "query_id", "terms", 20)
      .select(col("query_id"), col("doc_id"), col("score"))
    val lm = TextIndex.lmTopKShardedBatch(s, outsT, qterms,
        "query_id", "terms", 20)
      .select(col("query_id"), col("doc_id"), col("score"))
    // both text arms stay inside every shard's probed buckets
    val live = Seq("spark", "join", "merge", "vector", "stream",
      "filter", "sort")
    val probed = live.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(8)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val budget = outsT.map { out =>
      val allFiles = graft.sinks.SkippingStore.listDataFileRelPaths(s, out)
      val inProbed =
        allFiles.count(p => probed.exists(b => p.contains(s"tb=$b/")))
      require(inProbed < allFiles.size,
        "test setup: some bucket must stay unprobed")
      inProbed
    }.sum
    Seq("BM25" -> lex, "LM" -> lm).foreach { case (leg, r) =>
      require(graft.plans.PlanProbe.scannedFileCount(r) <= 2L * budget,
        s"the sharded $leg arm must stay inside the shards' probed " +
          s"buckets (2 passes x $budget files)")
    }
    val qvecs = emb.filter(col("vec_id").isin(0L, 3L, 7L))
    val dense = Similarity.knnJoinIvfStoreSharded(s, vshards, qvecs,
        "vec_id", "embedding", k = 20,
        nprobe = vshards.map(_._2.cids.size).max)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("sim").as("score"))
    Similarity.rrfFuseBatch(Seq(lex, lm, dense), "doc_id", c = 60, k = 10)
  }

  // --------------------------------------------------------------- q282
  // Expansion serves through the PRUNED path + the serve front door:
  // wildcard ('joi*') and leading-wildcard ('*oin') BM25 on a store
  // carrying BOTH sidecars (_vocab for expansion, _blockmax for
  // pruning) — expanded terms are just terms, so the q266 banded
  // store skips files for them too. serve()/the expansion verbs
  // dispatch through the front door (lastServeRoute pins the route
  // in-plan); the suffix serve must agree with the wildcard one
  // row-for-row (both expand to the same term here). The oracle
  // replays expansion (df-ranked against the live vocab) + BM25 from
  // the raw corpus.
  private def q282ExpansionPruned(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q282", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    TextIndex.build(docs.filter(jtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.buildVocab(s, out)
    TextIndex.append(docs.filter(jtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(jtf === 0 || (jtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    val res = TextIndex.wildcardTopK(s, out, "joi", 5, maxTerms = 8)
    require(TextIndex.lastServeRoute.contains("topKPruned"),
      s"the expansion serve must ride the pruned front-door path " +
        s"(got ${TextIndex.lastServeRoute})")
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded corpus must skip for the expanded terms too: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read survivor files only: $st")
    require(res.collect().toSeq ==
        TextIndex.suffixTopK(s, out, "oin", 5).collect().toSeq,
      "wildcard and suffix serves must agree (same expansion here)")
    res
  }

  private val q282Sql =
    """WITH base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      |stats AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
      |vocab AS (SELECT w, COUNT(DISTINCT doc_id) AS vdf FROM
      |    (SELECT doc_id, unnest(toks) AS w FROM base)
      |  WHERE len(w) > 0 GROUP BY w),
      |e AS (SELECT w FROM vocab WHERE w LIKE 'joi%'
      |  ORDER BY vdf DESC, w LIMIT 8),
      |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
      |  WHERE w IN (SELECT w FROM e) GROUP BY doc_id, dl, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |contrib AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * (tf * (1.2e0 + 1)) /
      |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
      |  FROM tf JOIN df USING (w) CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 5""".stripMargin

  // --------------------------------------------------------------- q281
  // Pruning UNDER pending tombstones — the delete-to-compaction perf
  // cliff removed: the q266 banded store takes a delete (every 7th
  // doc) and the pruned serve keeps pruning instead of delegating.
  // Sidecar df is stale-high by exactly the tombstoned postings,
  // which are a PAGE-PRUNED point lookup (postings sort by
  // (tb, w, doc_id); the ids push down as an In residual — the
  // parquet analog of Lucene's skip pointers), so df stays exact;
  // the probe and survivor reads anti-join the tombstone set; caps
  // from superset extremes only loosen, never under-estimate. The
  // oracle replays plain BM25 over the SURVIVING corpus.
  private def q281TombstonePrune(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q281", dir)
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    TextIndex.build(docs.filter(jtf >= 3), "doc_id", "text", out,
      nBuckets = 8, filesPerBucket = 2)
    TextIndex.buildBlockStats(s, out)
    TextIndex.append(docs.filter(jtf.between(1, 2) && dl < 50),
      "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.append(docs.filter(jtf === 0 || (jtf.between(1, 2)
      && dl >= 50)), "doc_id", "text", out, filesPerBucket = 2)
    TextIndex.delete(s, out,
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
      "doc_id")
    val res = TextIndex.topKPruned(s, out, Seq("join"), 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the serve must PRUNE through pending tombstones: $st")
    val fs = graft.sinks.HadoopSwap.fs(s, out)
    val tombFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$out/_tombstones"))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(graft.plans.PlanProbe.scannedFileCount(res) <=
        st.survivors + tombFiles,
      s"the final plan must read survivors + the tombstone sidecar " +
        s"only: $st + $tombFiles")
    res
  }

  private val q281Sql = bm25Sql(Seq("join"), 5,
    corpus = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0)")

  // --------------------------------------------------------------- q279
  // The sharded family completed for the LM ranker: lmTopKSharded
  // (global ctf = Σ per-shard ctf — one terms-sized exchange) and its
  // block-max composition lmTopKShardedPruned (ctf from the shards'
  // sidecars with ZERO data files, one global θ probe whose k-th
  // partial dominates every shard-local probe, GLOBAL floors for the
  // LM length norm's negative contributions). The q277 banded shards;
  // both serves are pinned to EACH OTHER in-plan and to the q268 LM
  // oracle by the driver — one logical corpus however sharded.
  private def q279ShardedLm(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q279a", dir), scratch("q279b", dir),
      scratch("q279c", dir))
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val dl = size(toks)
    val bands = Seq(
      docs.filter(jtf >= 3),
      docs.filter(jtf.between(1, 2) && dl < 50),
      docs.filter(jtf === 0 || (jtf.between(1, 2) && dl >= 50)))
    inParallel(outs.zip(bands)) { case (out, band) =>
      TextIndex.build(band, "doc_id", "text", out, nBuckets = 8,
        filesPerBucket = 2)
      TextIndex.buildBlockStats(s, out)
    }
    val res = TextIndex.lmTopKShardedPruned(s, outs, Seq("join"), 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded shards must skip under the global LM θ: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the gathered plan must read survivor files only: $st")
    // the unpruned scatter answers identically — pinned in-plan
    require(res.collect().toSeq ==
        TextIndex.lmTopKSharded(s, outs, Seq("join"), 5).collect().toSeq,
      "pruned and unpruned LM scatters must agree row-for-row")
    res
  }

  // --------------------------------------------------------------- q280
  // The sharded family completed for the BATCHED serve: a whole query
  // frame scattered over the q269 tf/dl bands as shards. Global df
  // sums from the shards' sidecars (zero data files), ONE cross-shard
  // probe union sets a per-QUERY global θ, each shard runs the
  // distributed batched prune algebra under that shared frame, and
  // the gather re-ranks shards×k rows per query. Pinned in-plan to
  // the unpruned batched scatter and by the driver to the q269
  // per-query BM25 oracle.
  private def q280ShardedBatch(s: SparkSession, dir: String): DataFrame = {
    val outs = Seq(scratch("q280a", dir), scratch("q280b", dir),
      scratch("q280c", dir))
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val jtf = size(filter(toks, w => w === "join"))
    val stf = size(filter(toks, w => w === "scan"))
    val gtf = greatest(jtf, stf)
    val dl = size(toks)
    val bands = Seq(
      docs.filter(gtf >= 3),
      docs.filter(gtf.between(1, 2) && dl < 50),
      docs.filter(gtf === 0 || (gtf.between(1, 2) && dl >= 50)))
    inParallel(outs.zip(bands)) { case (out, band) =>
      TextIndex.build(band, "doc_id", "text", out, nBuckets = 8,
        filesPerBucket = 2)
      TextIndex.buildBlockStats(s, out)
    }
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join")), (1L, Seq("scan")),
      (2L, Seq("qqzznope"))).toDF("query_id", "terms")
    val res = TextIndex.topKShardedPrunedBatch(s, outs, queries,
      "query_id", "terms", 5)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the banded shards must skip under the per-query global θ: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the gathered plan must read the survivor unions only: $st")
    require(res.collect().toSeq ==
        TextIndex.topKShardedBatch(s, outs, queries,
          "query_id", "terms", 5).collect().toSeq,
      "pruned and unpruned batched scatters must agree row-for-row")
    res
  }

  // --------------------------------------------------------------- q278
  // BLOCK-MAX pruned BM25F — the multi-field serve joins the pruning
  // regime: per-(field, file, term) wtfp caps fold across fields
  // through the SHARED-saturation expression (field f's part from the
  // file's own (maxtf, mindl) cap, the other fields from their global
  // maxima), θ comes from one probe file per (term, field) scored
  // with the exact any-field idf, and straddling docs drop by ORDER
  // (their survivor-computed score provably sits under θ — see the
  // TextIndex BM25F-pruning section). The one unprunable pass is the
  // column-pruned (doc_id, w) any-field df read; the WIDE scoring
  // pass shrinks to survivor files only, which the in-plan requires
  // pin. Every 11th doc is rewritten dense-in-every-term (the q267
  // device, oracle-replayed) so θ is dominated and the sparse/long
  // band skips; rows hash-match the unpruned q263-shape serve.
  private def q278PrunedBm25f(s: SparkSession, dir: String): DataFrame = {
    val outT = scratch("q278t", dir)
    val outB = scratch("q278b", dir)
    // all-query-term docs maximize the length-normalized cap (wtfp of
    // an all-term doc INCREASES with dl), so the 100-token dense band
    // provably out-caps every natural file at any SF — the oracle
    // replays the same rewrite
    val dense = Seq.fill(50)("join merge").mkString(" ")
    val docs = t(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 11 === 0, lit(dense))
        .otherwise(col("text")))
    val toks = split(col("text"), "\\s+")
    val fielded = docs.select(col("doc_id"), size(toks).as("dl"),
      array_join(slice(toks, lit(1), lit(3)), " ").as("title"),
      array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
        " ").as("body"))
    val bandA = col("doc_id") % 11 === 0
    val bandB = col("doc_id") % 11 =!= 0 && col("dl") >= 50
    inParallel(Seq(("title", outT), ("body", outB))) { case (c, out) =>
      TextIndex.build(fielded.filter(bandA), "doc_id", c, out,
        nBuckets = 8, filesPerBucket = 2)
      TextIndex.buildBlockStats(s, out)
      TextIndex.append(fielded.filter(bandB), "doc_id", c, out,
        filesPerBucket = 2)
      TextIndex.append(fielded.filter(!bandA && !bandB), "doc_id", c,
        out, filesPerBucket = 2)
    }
    val res = TextIndex.bm25fTopKPruned(s,
      Seq(("title", outT, 2.0, 0.5), ("body", outB, 1.0, 0.75)),
      Seq("join", "merge"), 10)
    val st = TextIndex.lastPruneStats.get
    require(!st.delegated && st.skipped > 0,
      s"the sparse band must skip under the dense-doc θ: $st")
    require(graft.plans.PlanProbe.scannedFileCount(res) <= st.survivors,
      s"the final plan must read survivor files only: $st")
    res
  }

  private val q278Sql =
    """WITH rw AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN
      |    trim(repeat('join merge ', 50)) ELSE text END AS text
      |  FROM documents),
      |base AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM rw),
      |fld AS (SELECT doc_id, toks[1:3] AS tt, toks[4:] AS bt FROM base),
      |st AS (SELECT COUNT(*) AS n,
      |    round(CAST(SUM(len(tt)) AS DOUBLE) / COUNT(*), 6) AS avt,
      |    round(CAST(SUM(len(bt)) AS DOUBLE) / COUNT(*), 6) AS avb FROM fld),
      |tft AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(tt) AS BIGINT) AS dl, unnest(tt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge') GROUP BY 1, 2, 3),
      |tfb AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
      |    (SELECT doc_id, CAST(len(bt) AS BIGINT) AS dl, unnest(bt) AS w
      |     FROM fld)
      |  WHERE w IN ('join', 'merge') GROUP BY 1, 2, 3),
      |u AS (
      |  SELECT doc_id, w, CAST(round(2.0e0 * tf /
      |      (0.5e0 + 0.5e0 * dl / avt), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tft CROSS JOIN st
      |  UNION ALL
      |  SELECT doc_id, w, CAST(round(1.0e0 * tf /
      |      (0.25e0 + 0.75e0 * dl / avb), 6) AS DECIMAL(28,6)) AS wtfp
      |    FROM tfb CROSS JOIN st),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM u GROUP BY w),
      |wt AS (SELECT doc_id, w, SUM(wtfp) AS wtf FROM u GROUP BY 1, 2),
      |c AS (SELECT doc_id,
      |    CAST(round(
      |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
      |      * CAST(wtf AS DOUBLE) / (1.2e0 + CAST(wtf AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS c
      |  FROM wt JOIN df USING (w) CROSS JOIN st)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c) AS DOUBLE) AS score
      |FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q141
  // Largest-remainder token-budget apportionment: per-domain token
  // counts -> exact integer per-domain targets summing to the budget
  // (the executable sampling plan behind a mixture spec). Pure integer
  // math end to end; the in-plan require proves the seats balance.
  private def q141ShardBudget(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .groupBy(concat(lit("d"), (col("doc_id") % 7).cast("string")).as("domain"))
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"))
    val out = Curation.allocateBudget(counts, "domain", "n_tokens", 100000L)
    val allocated = out.agg(sum(col("alloc"))).head().getLong(0)
    require(allocated == 100000L,
      s"largest-remainder must allocate the whole budget ($allocated)")
    out.orderBy(col("domain"))
  }

  private val q141Sql =
    """WITH c AS (SELECT 'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
      |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT SUM(n_tokens) AS total FROM c),
      |b AS (SELECT domain, n_tokens,
      |    (100000 * n_tokens) // total AS base,
      |    (100000 * n_tokens) % total AS rem
      |  FROM c CROSS JOIN t),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, domain) AS rk,
      |    100000 - SUM(base) OVER () AS leftover FROM b)
      |SELECT domain, n_tokens,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r ORDER BY domain""".stripMargin

  // ---------------------------------------------------------------- q142
  // Incremental dedup against a persisted LSH signature store: even
  // docs are the historical corpus (signatures written to parquet and
  // read back — the store round-trip is part of the plan), odd docs the
  // arriving batch; each incoming doc reports how many of its bands hit
  // the store and its canonical prior copy. Batch-sized cost, not
  // corpus-sized — the continuous-crawl dedup shape.
  private def q142DedupDelta(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q142", dir)
    val docs = t(s, dir, "documents")
    Dedup.bandSignatures(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, 8, 4)
      .write.mode("overwrite").parquet(out)
    val inc = Dedup.bandSignatures(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", 3, 8, 4)
    Dedup.incrementalDuplicates(inc, s.read.parquet(out))
      .orderBy(col("doc_id"))
  }

  private val q142Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |store AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
       |inc AS (SELECT * FROM bands WHERE doc_id % 2 = 1)
       |SELECT i.doc_id AS doc_id, CAST(COUNT(DISTINCT i.band) AS BIGINT) AS n_bands_hit,
       |  MIN(s.doc_id) AS first_match
       |FROM inc i JOIN store s ON i.band = s.band AND i.bucket = s.bucket
       |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q159
  // Per-source document quota (the Common-Crawl host cap): top 15 docs
  // per source by (n_chars desc, doc_id), everything else over-quota.
  // The keep set folds through the bounded TopK partial aggregate (cap
  // rows per group per map task — no skewed single-reducer window
  // sort) and joins back on the id key, strategy AQE's call (the keep
  // set is groups-proportional, so no forced broadcast hint).
  private def q159SourceQuota(s: SparkSession, dir: String): DataFrame =
    Curation.groupQuota(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", cap = 15)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).cast("long")
          .as("kept_chars"))
      .orderBy(col("source"))

  private val q159Sql =
    """WITH r AS (SELECT source, doc_id, n_chars,
      |  row_number() OVER (PARTITION BY source
      |                     ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Shared SQ8 oracle fragment: per-vector scale + int8 codes, the
    * exact arithmetic of [[Similarity.sq8Encode]] (max/127 scale,
    * floor(x/s + 0.5) codes, all-zero codes for zero vectors). */
  private val sq8Ctes =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |       FROM embeddings),
      |sc AS (SELECT vec_id, e,
      |         list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM v),
      |cd AS (SELECT vec_id, e, s,
      |  CASE WHEN s > 0 THEN list_transform(e, x -> CAST(floor(x / s + 0.5) AS BIGINT))
      |       ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS codes
      |  FROM sc)""".stripMargin

  // ---------------------------------------------------------------- q160
  // Int8 scalar-quantization quality audit (Similarity.sq8Error): the
  // per-vector reconstruction RMSE of the 4x-compression round trip —
  // the accuracy dial read before switching a corpus to SQ8 serving.
  // Map-only; every step an exactly-specified IEEE double op.
  private def q160Sq8Error(s: SparkSession, dir: String): DataFrame =
    Similarity.sq8Error(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  private val q160Sql =
    s"""WITH $sq8Ctes
       |SELECT vec_id, round(s, 6) AS sq_scale,
       |  round(sqrt(list_sum(list_transform(generate_series(1, len(e)),
       |    i -> (e[i] - codes[i] * s) * (e[i] - codes[i] * s))) / len(e)), 6) AS rmse
       |FROM cd ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q161
  // SQ8 quantized top-k serve (Similarity.sq8TopK): rank by the
  // dequantized dot product — an exact int64 dot over int8 codes (the
  // SIMD/ADC-free serving form), scales multiplied back in once per
  // row. Query codes broadcast; top-k is TakeOrderedAndProject.
  private def q161Sq8TopK(s: SparkSession, dir: String): DataFrame =
    Similarity.sq8TopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  private val q161Sql =
    s"""WITH $sq8Ctes,
       |q AS (SELECT s AS qs, codes AS qc FROM cd WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(CAST(list_sum(list_transform(generate_series(1, len(codes)),
       |    i -> codes[i] * qc[i])) AS DOUBLE) * s * qs, 6) AS qsim
       |FROM cd CROSS JOIN q WHERE vec_id <> 0
       |ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q162
  // Vocabulary coverage / OOV rate (Curation.oovRate): corpus top-100
  // token vocabulary (count desc, token asc), then each doc's fraction
  // of token occurrences outside it — the tokenizer-coverage /
  // encoding-junk gate. Vocab is TakeOrderedAndProject-bounded and
  // rides back as a broadcast; scoring is map-side.
  private def q162OovRate(s: SparkSession, dir: String): DataFrame =
    Curation.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 100)
      .orderBy(col("doc_id"))

  private val q162Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      |             FROM documents),
      |v AS (SELECT tok FROM toks GROUP BY tok
      |      ORDER BY COUNT(*) DESC, tok LIMIT 100)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS oov_rate
      |FROM toks t LEFT JOIN v ON t.tok = v.tok
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q163
  // Temperature-scaled language mixture (Curation.temperatureAllocate):
  // p_l ∝ n_l^0.5 flattens the size distribution (the multilingual
  // up-sampling formula), largest-remainder makes it an exact integer
  // plan. α = 0.5 because IEEE sqrt is correctly rounded — the integer
  // weights reproduce on any engine, unlike a libm pow.
  private def q163TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"))
    Curation.temperatureAllocate(counts, "lang", "n_tokens", 100000L)
      .orderBy(col("lang"))
  }

  private val q163Sql =
    """WITH c AS (SELECT lang,
      |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT lang, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS weight
      |  FROM c),
      |t AS (SELECT SUM(weight) AS total FROM w),
      |b AS (SELECT lang, n_tokens, weight,
      |    (100000 * weight) // total AS base,
      |    (100000 * weight) % total AS rem FROM w CROSS JOIN t),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
      |    100000 - SUM(base) OVER () AS leftover FROM b)
      |SELECT lang, n_tokens, weight,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q164
  // n-gram novelty (Curation.ngramNovelty): per doc, the fraction of
  // its distinct 3-grams with corpus document-frequency 1 — low is
  // boilerplate, high is memorization-risk. One hash shuffle of the
  // shingle stream (df via a window partitioned BY SHINGLE), then a
  // partial-agg'd per-doc fold; nothing all-pairs.
  private def q164NgramNovelty(s: SparkSession, dir: String): DataFrame =
    Curation.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy(col("doc_id"))

  private val q164Sql =
    s"""WITH ${shingleCte(3)},
       |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
       |SELECT sh.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  round(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / COUNT(*), 6) AS novelty
       |FROM sh JOIN df ON sh.s = df.s
       |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  // ---------------------------------------------------------------- q165
  // SQ8 serving recall: does the int8 index (q161) return the exact
  // cosine top-10 (q31's ranking at k=10)? The accuracy-vs-4x-memory
  // trade made measurable, the q144 discipline applied to SQ8.
  private def q165Sq8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val approx = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      .withColumn("query_id", lit(0L))
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .withColumn("query_id", lit(0L))
    Similarity.recallAtK(approx, exact, "query_id", "vec_id")
  }

  private val q165Sql =
    s"""WITH $sq8Ctes,
       |q AS (SELECT s AS qs, codes AS qc FROM cd WHERE vec_id = 0),
       |approx AS (SELECT cd.vec_id FROM cd CROSS JOIN q WHERE cd.vec_id <> 0
       |  ORDER BY round(CAST(list_sum(list_transform(generate_series(1, len(codes)),
       |    i -> codes[i] * qc[i])) AS DOUBLE) * s * qs, 6) DESC, cd.vec_id
       |  LIMIT 10),
       |fq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |exact AS (SELECT e.vec_id FROM embeddings e CROSS JOIN fq
       |  WHERE e.vec_id <> 0
       |  ORDER BY ${cosSql("e.embedding", "fq.qv")} DESC, e.vec_id LIMIT 10)
       |SELECT CAST(0 AS BIGINT) AS query_id,
       |  round(CAST((SELECT COUNT(*) FROM approx JOIN exact USING (vec_id))
       |        AS DOUBLE) / 10, 6) AS recall""".stripMargin

  // ---------------------------------------------------------------- q166
  // The round-7 operators composed as ONE declarative plan (the q46/q85
  // discipline): host-cap quota -> OOV gate over the surviving docs'
  // own vocabulary -> temperature-scaled per-language token budget.
  // The pipeline a multilingual pretraining run actually executes:
  // de-bias sources, drop encoding junk, then up-sample low-resource
  // languages with an exact integer sampling plan.
  private def q166CurationV3(s: SparkSession, dir: String): DataFrame = {
    // the surviving-docs frame feeds THREE consumers (vocab build, OOV
    // scoring, language accounting); without the checkpoint the static
    // planner re-scans the corpus and re-runs the quota TopK for each
    // (the q148/q97 shared-subtree discipline)
    val quota = Curation.groupQuota(t(s, dir, "documents"), "doc_id",
        "source", "n_chars", cap = 15)
      .filter(col("kept")).drop("kept")
      .localCheckpoint()
    val oov = Curation.oovRate(quota, "doc_id", "text", vocabSize = 100)
    val keep = oov.filter(col("oov_rate") <= 0.75)
      .select(col("doc_id"), col("n_tokens"))
    val counts = quota.select(col("doc_id"), col("lang"))
      .join(keep, Seq("doc_id"))
      .groupBy(col("lang")).agg(sum(col("n_tokens")).as("n_tokens"))
    Curation.temperatureAllocate(counts, "lang", "n_tokens", 50000L)
      .orderBy(col("lang"))
  }

  private val q166Sql =
    """WITH r AS (SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id) AS rn FROM documents),
      |k1 AS (SELECT doc_id, text, lang FROM r WHERE rn <= 15),
      |toks AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      |         FROM k1),
      |v AS (SELECT tok FROM toks GROUP BY tok
      |      ORDER BY COUNT(*) DESC, tok LIMIT 100),
      |oov AS (SELECT t.doc_id, COUNT(*) AS n_toks,
      |    round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |          / COUNT(*), 6) AS oov_rate
      |  FROM toks t LEFT JOIN v ON t.tok = v.tok GROUP BY t.doc_id),
      |c AS (SELECT k1.lang, CAST(SUM(o.n_toks) AS BIGINT) AS n_tokens
      |  FROM k1 JOIN oov o ON k1.doc_id = o.doc_id
      |  WHERE o.oov_rate <= 0.75 GROUP BY 1),
      |w AS (SELECT lang, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS weight
      |  FROM c),
      |t AS (SELECT SUM(weight) AS total FROM w),
      |b AS (SELECT lang, n_tokens, weight,
      |    (50000 * weight) // total AS base,
      |    (50000 * weight) % total AS rem FROM w CROSS JOIN t),
      |r2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
      |    50000 - SUM(base) OVER () AS leftover FROM b)
      |SELECT lang, n_tokens, weight,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r2 ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q167
  // In-engine classifier TRAINING (Curation.trainLogistic): 3 rounds of
  // full-batch logistic regression on bag-of-words frequencies, label =
  // "is this English" — the missing half of q95's fasttext-style
  // inference (train here, score with linearScore). The model is a
  // vocabulary-sized (tok, weight) frame updated in place each round;
  // decimal-exact gradients + round-6 sigmoid/updates make the oracle's
  // unrolled rounds reproduce the weights bit-for-bit. Output: the 25
  // most English-indicative tokens (weight desc, tok).
  private def q167TrainClassifier(s: SparkSession, dir: String): DataFrame =
    Curation.trainLogistic(
        t(s, dir, "documents")
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "doc_id", "text", "is_en", rounds = 3, lr = 10.0)
      .orderBy(col("weight").desc, col("tok")).limit(25)

  private val q167Sql = {
    // one CTE block per unrolled round r: err from the previous round's
    // (w, b), token gradients, updated weights/bias — the exact
    // arithmetic of Curation.trainLogistic
    def roundCtes(r: Int): String = {
      val (pw, pb) = (s"w${r - 1}", s"b${r - 1}")
      val errExpr =
        if (r == 1) "CAST(0.5 AS DECIMAL(18,6)) - l.y" // w=0, b=0 -> p=0.5
        else
          s"""CAST(round(1.0 / (1.0 + exp(-($pb.b + CAST(COALESCE(z$r.zs, 0) AS DOUBLE)))), 6)
             |        AS DECIMAL(18,6)) - l.y""".stripMargin
      val zJoin =
        if (r == 1) ""
        else
          s"""z$r AS (SELECT f.doc_id, SUM(f.x * CAST($pw.w AS DECIMAL(18,6))) AS zs
             |  FROM f JOIN $pw USING (tok) GROUP BY f.doc_id),
             |""".stripMargin
      val fromTail =
        if (r == 1) "FROM lab l"
        else s"FROM lab l LEFT JOIN z$r USING (doc_id) CROSS JOIN $pb"
      s"""${zJoin}e$r AS (SELECT l.doc_id, $errExpr AS err $fromTail),
         |g$r AS (SELECT f.tok, SUM(e$r.err * f.x) AS g
         |  FROM f JOIN e$r USING (doc_id) GROUP BY f.tok),
         |w$r AS (SELECT COALESCE($pw.tok, g$r.tok) AS tok,
         |    COALESCE($pw.w, 0.0) -
         |      round(10.0 * CAST(COALESCE(g$r.g, 0) AS DOUBLE) / nd.nd, 6) AS w
         |  FROM $pw FULL JOIN g$r USING (tok) CROSS JOIN nd),
         |b$r AS (SELECT $pb.b -
         |    round(10.0 * CAST((SELECT SUM(err) FROM e$r) AS DOUBLE) / nd.nd, 6) AS b
         |  FROM $pb CROSS JOIN nd)""".stripMargin
    }
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |             FROM documents),
       |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |nn AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1),
       |f AS (SELECT cnt.doc_id, cnt.tok,
       |    CAST(round(CAST(cnt.c AS DOUBLE) / nn.n, 6) AS DECIMAL(18,6)) AS x
       |  FROM cnt JOIN nn USING (doc_id)),
       |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |        FROM documents),
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |w0 AS (SELECT NULL AS tok, NULL AS w WHERE FALSE),
       |b0 AS (SELECT 0.0 AS b),
       |${(1 to 3).map(roundCtes).mkString(",\n")}
       |SELECT tok, w AS weight FROM w3
       |UNION ALL SELECT '__bias__', b FROM b3
       |ORDER BY weight DESC, tok LIMIT 25""".stripMargin
  }

  // ---------------------------------------------------------------- q168
  // Classifier calibration curve (Curation.calibration): q95's fixed
  // quality model scored over the corpus, predictions bucketed into
  // deciles, each bin's mean prediction vs its observed is-English
  // rate — the reliability check run before a scorer's thresholds gate
  // a corpus. Bounded bucket-keyed aggregate; decimal-exact bin means.
  private def q168Calibration(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("is_en", (col("lang") === "en").cast("int"))
    val scored = Curation.linearScore(docs, "doc_id", "text",
        q95Weights, bias = -0.2)
      .join(docs.select(col("doc_id"), col("is_en")), Seq("doc_id"))
    Curation.calibration(scored, "score", "is_en", nBuckets = 10)
      .orderBy(col("bucket"))
  }

  private val q168Sql = {
    val values = q95Weights
      .map { case (t, w) => s"('$t', ${w})" }.mkString(", ")
    s"""WITH w(tok, weight) AS (VALUES $values),
       |hits AS (
       |  SELECT doc_id, CAST(SUM(CAST(w.weight AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS wsum
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents) x
       |  JOIN w ON w.tok = x.tok
       |  GROUP BY doc_id),
       |sc AS (SELECT d.doc_id,
       |    round(1.0 / (1.0 + exp(-(-0.2 +
       |      CAST(COALESCE(h.wsum, 0) AS DOUBLE)))), 6) AS score,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id),
       |b AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket,
       |        score, y FROM sc)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
       |        / COUNT(*), 6) AS mean_score,
       |  round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q169
  // Edit-distance verification of the q28 LSH candidates
  // (Dedup.editDistanceGate): normalized Levenshtein over 1000-char
  // prefixes, dup flagged at ratio <= 0.3 — the verify stage that
  // catches reordered/lightly-edited copies Jaccard-style set overlap
  // misses. Work is candidate-bounded (the LSH bucket caps are the
  // proof); Levenshtein is exact integer arithmetic on both engines.
  private def q169EditGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sig = Dedup.minhashSignatureDirect(docs, "doc_id", "text", 3, 8)
    val cands = Dedup.lshCandidates(sig, 8, 4, maxBucket = 1000)
    Dedup.editDistanceGate(docs, "doc_id", "text", cands, maxRatio = 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q169Sql = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || s)) AS h$i").mkString(", ")
    s"""WITH ${shingleCte(3)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bucket FROM sig),
       |keep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |         HAVING COUNT(*) <= 1000),
       |kept AS (SELECT b.* FROM bands b JOIN keep k USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |ev AS (SELECT c.doc_a, c.doc_b,
       |    CAST(levenshtein(substring(da.text, 1, 1000),
       |                     substring(db.text, 1, 1000)) AS BIGINT) AS dist,
       |    greatest(len(substring(da.text, 1, 1000)),
       |             len(substring(db.text, 1, 1000))) AS maxlen
       |  FROM cand c
       |  JOIN documents da ON da.doc_id = c.doc_a
       |  JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, dist,
       |  round(CAST(dist AS DOUBLE) / maxlen, 6) AS edit_ratio,
       |  round(CAST(dist AS DOUBLE) / maxlen, 6) <= 0.3 AS dup
       |FROM ev ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q170
  // Per-dimension embedding statistics (Similarity.dimStats): the
  // drift/whitening axis of embedding QC — mean/std/min/max per vector
  // dimension, decimal-summed so the corpus fold is order-insensitive.
  // Bounded groups (= vector width); the oracle re-derives the same
  // x / x² decimal sums positionally.
  private def q170DimStats(s: SparkSession, dir: String): DataFrame =
    Similarity.dimStats(t(s, dir, "embeddings"), "embedding")
      .orderBy(col("dim"))

  private val q170Sql =
    """WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |       unnest(generate_series(1, len(embedding))) AS u(i)),
      |a AS (SELECT dim, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(28,12))) AS sx,
      |    SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx,
      |    MIN(x) AS dmin, MAX(x) AS dmax
      |  FROM x GROUP BY dim)
      |SELECT CAST(dim AS INTEGER) AS dim, n,
      |  round(CAST(sx AS DOUBLE) / n, 6) AS mean,
      |  round(sqrt(greatest(
      |    CAST(sxx AS DOUBLE) / n -
      |      (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
      |    0.0)), 6) AS std,
      |  round(dmin, 6) AS dmin, round(dmax, 6) AS dmax
      |FROM a ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q171
  // Multi-probe sign-bucket ANN (Similarity.signBucketMultiProbe): q32's
  // 6-bit bucket probe widened by flipping the query's 2 lowest-margin
  // sign bits — the Lv et al. multi-probe recall dial, no extra index
  // memory. The probe set (3 bucket strings) broadcasts; candidates
  // are one semi-join; nflip=0 reproduces q32 exactly.
  private def q171Multiprobe(s: SparkSession, dir: String): DataFrame =
    Similarity.signBucketMultiProbe(t(s, dir, "embeddings"),
      "vec_id", "embedding", queryId = 0L, bits = 6, nflip = 2, k = 10)

  private val q171Sql =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
       |     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
       |     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
       |     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
       |     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
       |     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, bucket FROM b WHERE vec_id = 0),
       |probes AS (
       |  SELECT unnest(list_concat(
       |    [bucket],
       |    list_transform(
       |      list_sort(list_transform(generate_series(1, 6),
       |        i -> {'m': abs(CAST(qv[i] AS DOUBLE)), 'i': i}))[1:2],
       |      s -> substring(bucket, 1, s.i - 1) ||
       |           (CASE WHEN substring(bucket, s.i, 1) = '1'
       |                 THEN '0' ELSE '1' END) ||
       |           substring(bucket, s.i + 1, 6)))) AS pb
       |  FROM q),
       |scored AS (
       |  SELECT b.vec_id, ${cosSql("b.embedding", "q.qv")} AS sim
       |  FROM b JOIN probes ON b.bucket = probes.pb CROSS JOIN q
       |  WHERE b.vec_id <> 0)
       |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q172
  // Hybrid retrieval via reciprocal-rank fusion (Similarity.rrfFuse):
  // the q133 BM25 lexical ranking and the q31 dense cosine ranking
  // (doc_id == vec_id in the synthetic corpus) fused as
  // Σ 1/(60 + rank) — the calibration-free combiner RAG stacks ship.
  // Both inputs are top-20 bounded; fusion is k-sized throughout.
  private def q172RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = Curation.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "merge"), 20)
      .select(col("doc_id"), col("score"))
    val dense = Similarity.cosineTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", 0L, 20)
      .select(col("vec_id").as("doc_id"), col("sim").as("score"))
    Similarity.rrfFuse(Seq(lex, dense), "doc_id", c = 60, k = 10)
  }

  private val q172Sql =
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n,
       |    round(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM b2),
       |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM
       |    (SELECT doc_id, dl, unnest(toks) AS w FROM b2)
       |  WHERE w IN ('spark', 'join', 'merge') GROUP BY doc_id, dl, w),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT doc_id,
       |    CAST(round(
       |      round(ln(1.0e0 + (n - df + 0.5e0) / (df + 0.5e0)), 6)
       |      * (tf * (1.2e0 + 1)) /
       |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 6) AS DECIMAL(28,6)) AS c
       |  FROM tf JOIN df USING (w) CROSS JOIN stats),
       |lex AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score
       |  FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
       |fq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |dense AS (SELECT e.vec_id AS doc_id, ${cosSql("e.embedding", "fq.qv")} AS score
       |  FROM embeddings e CROSS JOIN fq WHERE e.vec_id <> 0
       |  ORDER BY score DESC, doc_id LIMIT 20),
       |lr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |       FROM lex),
       |dr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |       FROM dense)
       |SELECT doc_id,
       |  round(COALESCE(1.0 / (60.0 + lr.r), 0.0) +
       |        COALESCE(1.0 / (60.0 + dr.r), 0.0), 6) AS rrf
       |FROM lr FULL JOIN dr USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q173
  // Whitening round trip (Similarity.standardize): train per-dim stats
  // once (q170, collected as vector-width model state — the IvfIndex
  // pattern), standardize the corpus map-only, and re-profile. The
  // output IS the proof the transform worked: every live dimension
  // lands at mean ~0 / std ~1, and the oracle reproduces the exact
  // post-rounding values.
  private def q173Whiten(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val stats = Similarity.dimStats(emb, "embedding")
      .orderBy(col("dim")).collect()
    val white = Similarity.standardize(emb, "embedding",
      stats.map(_.getDouble(2)).toSeq, stats.map(_.getDouble(3)).toSeq)
    Similarity.dimStats(white, "embedding").orderBy(col("dim"))
  }

  private val q173Sql =
    """WITH x AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |       unnest(generate_series(1, len(embedding))) AS u(i)),
      |a AS (SELECT dim, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(28,12))) AS sx,
      |    SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx
      |  FROM x GROUP BY dim),
      |st AS (SELECT dim,
      |    round(CAST(sx AS DOUBLE) / n, 6) AS mean,
      |    round(sqrt(greatest(
      |      CAST(sxx AS DOUBLE) / n -
      |        (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
      |      0.0)), 6) AS std
      |  FROM a),
      |w AS (SELECT x.vec_id, x.dim,
      |    CASE WHEN st.std > 0 THEN round((x.x - st.mean) / st.std, 6)
      |         ELSE 0.0 END AS x
      |  FROM x JOIN st USING (dim)),
      |a2 AS (SELECT dim, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(28,12))) AS sx,
      |    SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx,
      |    MIN(x) AS dmin, MAX(x) AS dmax
      |  FROM w GROUP BY dim)
      |SELECT CAST(dim AS INTEGER) AS dim, n,
      |  round(CAST(sx AS DOUBLE) / n, 6) AS mean,
      |  round(sqrt(greatest(
      |    CAST(sxx AS DOUBLE) / n -
      |      (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
      |    0.0)), 6) AS std,
      |  round(dmin, 6) AS dmin, round(dmax, 6) AS dmax
      |FROM a2 ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q174
  // Event-rate anomaly detection: per event type, each hour's count
  // z-scored against its OWN trailing 6-hour window (sample variance,
  // >= 3 trailing points) — the monitoring primitive behind every
  // ingest-rate alert. Windows partition by event_type (bounded keys);
  // the trailing moments are integer-exact window sums, so the one
  // double formula reproduces on any engine.
  private def q174EventAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-6, -1)
    val meanD = col("s1").cast("double") / col("cnt").cast("double")
    val varD = (col("cnt") * col("s2") - col("s1") * col("s1")).cast("double") /
      (col("cnt") * (col("cnt") - 1)).cast("double")
    val z = round((col("n").cast("double") - meanD) / sqrt(varD), 6)
    hourly
      .withColumn("cnt", count(col("n")).over(win))
      .withColumn("s1", sum(col("n")).over(win))
      .withColumn("s2", sum(col("n") * col("n")).over(win))
      .filter(col("cnt") >= 3)
      .select(col("hour"), col("event_type"), col("n"),
        round(meanD, 6).as("trailing_mean"),
        when(varD > 0.0, z).as("z"))
      .withColumn("anomaly",
        when(col("z").isNotNull && abs(col("z")) > 2.0, true).otherwise(false))
      .orderBy(col("event_type"), col("hour"))
  }

  private val q174Sql =
    """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT hour, event_type, n,
      |    COUNT(n) OVER win AS cnt,
      |    SUM(n) OVER win AS s1,
      |    SUM(n * n) OVER win AS s2
      |  FROM h WINDOW win AS (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
      |SELECT hour, event_type, n,
      |  round(CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS trailing_mean,
      |  CASE WHEN CAST(cnt * s2 - s1 * s1 AS DOUBLE)
      |            / CAST(cnt * (cnt - 1) AS DOUBLE) > 0
      |    THEN round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
      |      / sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE)
      |             / CAST(cnt * (cnt - 1) AS DOUBLE)), 6)
      |  END AS z,
      |  COALESCE(abs(CASE WHEN CAST(cnt * s2 - s1 * s1 AS DOUBLE)
      |            / CAST(cnt * (cnt - 1) AS DOUBLE) > 0
      |    THEN round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
      |      / sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE)
      |             / CAST(cnt * (cnt - 1) AS DOUBLE)), 6)
      |  END) > 2.0, FALSE) AS anomaly
      |FROM w WHERE cnt >= 3 ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------- q175
  // Two-pass heavy hitters (Curation.heavyHitters): tokens holding
  // >= 1% of all occurrences, exact counts — pass one is the mergeable
  // Misra-Gries sketch (candidates guaranteed, o(n) memory, no full
  // frequency shuffle), pass two recounts only the <= 300 candidates.
  // The sketch's order-dependent counts are never emitted, so the
  // output is deterministic and the oracle is a plain GROUP BY.
  private def q175HeavyHitters(s: SparkSession, dir: String): DataFrame =
    Curation.heavyHitters(t(s, dir, "documents"), "doc_id", "text",
        pctNum = 1, pctDen = 100, sketchK = 300)
      .orderBy(col("cnt").desc, col("tok"))

  private val q175Sql =
    """WITH toks AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
      |             FROM documents),
      |t AS (SELECT COUNT(*) AS n FROM toks),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
      |SELECT tok, cnt FROM c CROSS JOIN t
      |WHERE 100 * cnt >= 1 * n ORDER BY cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------- q176
  // Language-ID confusion matrix: q33's stopword classifier evaluated
  // against the ground-truth lang column — per (true, predicted) cell
  // counts plus the cell's share of its true class (the recall
  // decomposition). The eval every deployed classifier needs next to
  // its calibration curve (q168). Integer-exact; one bounded aggregate.
  private def q176LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("en_n", expr(hitCount(enSet)))
      .withColumn("de_n", expr(hitCount(deSet)))
      .withColumn("fr_n", expr(hitCount(frSet)))
      .withColumn("predicted",
        when(col("en_n") >= col("de_n") && col("en_n") >= col("fr_n"), "en")
          .when(col("de_n") >= col("fr_n"), "de").otherwise("fr"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("class_share",
        round(col("n").cast("double") / sum(col("n")).over(w), 6))
      .orderBy(col("lang"), col("predicted"))
  }

  private val q176Sql = {
    def hits(set: Seq[String]) =
      s"len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${set.map(w => s"'$w'").mkString(", ")})))"
    s"""WITH p AS (SELECT lang,
       |  CASE WHEN ${hits(enSet)} >= ${hits(deSet)} AND ${hits(enSet)} >= ${hits(frSet)} THEN 'en'
       |       WHEN ${hits(deSet)} >= ${hits(frSet)} THEN 'de' ELSE 'fr' END AS predicted
       |  FROM documents),
       |c AS (SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2)
       |SELECT lang, predicted, n,
       |  round(CAST(n AS DOUBLE) /
       |        SUM(n) OVER (PARTITION BY lang), 6) AS class_share
       |FROM c ORDER BY lang, predicted""".stripMargin
  }

  // ---------------------------------------------------------------- q177
  // PSI distribution drift (Curation.psiDrift): doc-length buckets of
  // an even-id baseline snapshot vs the odd-id current one — the
  // monitoring metric that catches a feature distribution shifting
  // before it silently moves every downstream threshold. Bounded
  // bucket x cohort aggregate; terms round before any sum.
  private def q177PsiDrift(s: SparkSession, dir: String): DataFrame =
    Curation.psiDrift(
        t(s, dir, "documents")
          .withColumn("bucket",
            least(floor(col("n_chars") / 120), lit(4L)).cast("int"))
          .withColumn("cohort",
            when(col("doc_id") % 2 === 0, "base").otherwise("cur")),
        "bucket", "cohort", "base", "cur")
      .orderBy(col("bucket"))

  private val q177Sql =
    """WITH d AS (SELECT CAST(least(floor(n_chars / 120), 4) AS INTEGER) AS bucket,
      |    CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'cur' END AS cohort
      |  FROM documents),
      |c AS (SELECT bucket,
      |    CAST(SUM(CASE WHEN cohort = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
      |    CAST(SUM(CASE WHEN cohort = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM d GROUP BY bucket),
      |t AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM c),
      |s AS (SELECT bucket, n_base, n_cur,
      |    round(CAST(n_base AS DOUBLE) / tb, 6) AS pa,
      |    round(CAST(n_cur AS DOUBLE) / tc, 6) AS pb
      |  FROM c CROSS JOIN t)
      |SELECT bucket, n_base, n_cur, pa, pb,
      |  CASE WHEN pa > 0 AND pb > 0
      |       THEN round((pa - pb) * ln(pa / pb), 6) END AS psi_term
      |FROM s ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q178
  // Sequence-packing efficiency report: the q68 running-token binning
  // at a 512-token context, rolled up per language — tokens per opened
  // bin is the padding-waste metric a training run pays for directly
  // (fill 0.8 means 20% of every step's FLOPs are padding). Bounded
  // per-stratum aggregate on top of the existing packing plan.
  private def q178PackEfficiency(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(t(s, dir, "documents"), "lang", "doc_id", "text", 512)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("seq_bin")) + 1L).as("n_bins"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("fill_rate",
        round(col("total_tokens").cast("double") / (col("n_bins") * 512L), 6))
      .orderBy(col("lang"))

  private val q178Sql =
    """WITH p AS (SELECT lang, doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |  CAST((SUM(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
      |    OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    - len(string_split_regex(text, '\s+'))) // 512 AS BIGINT) AS seq_bin
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(MAX(seq_bin) + 1 AS BIGINT) AS n_bins,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  round(CAST(SUM(n_tokens) AS DOUBLE) / ((MAX(seq_bin) + 1) * 512), 6)
      |    AS fill_rate
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q288
  // I/O-bound bench CONTROL (VERDICT r15 #1a): a pure parquet
  // store write + full-column read-back with no tokenize, no shuffle
  // (coalesce is narrow), no joins — so bench_diff can tell sustained
  // box I/O contention from code regressions on the store-lifecycle
  // queries, which the CPU-shaped controls (q1/q26/q97) cannot see.
  // The returned aggregate forces the read to touch every text byte;
  // the oracle replays it over the source table (the copy moves rows,
  // never changes them).
  private def q288IoControl(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("q288", dir)
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("text_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  private val q288Sql =
    """SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q288_io_control" -> q288IoControl _,
    "q179_best_of_cluster" -> q179BestOfCluster _,
    "q182_hard_negatives" -> q182HardNegatives _,
    "q183_class_keywords" -> q183ClassKeywords _,
    "q185_weighted_sample" -> q185WeightedSample _,
    "q186_train_triples" -> q186TrainTriples _,
    "q187_score_norm" -> q187ScoreNorm _,
    "q188_containment" -> q188Containment _,
    "q190_curriculum" -> q190Curriculum _,
    "q191_index_stats" -> q191IndexStats _,
    "q192_bitext_margin" -> q192BitextMargin _,
    "q193_phrase_index" -> q193PhraseIndex _,
    "q196_winnow" -> q196Winnow _,
    "q197_dsir" -> q197Dsir _,
    "q198_jsonl" -> q198Jsonl _,
    "q195_bloom_rule" -> q195BloomRule _,
    "q199_zipf" -> q199Zipf _,
    "q200_sample" -> q200Sample _,
    "q201_meta_count" -> q201MetaCount _,
    "q202_epoch_mix" -> q202EpochMix _,
    "q204_meta_minmax" -> q204MetaMinMax _,
    "q205_semantic_decon" -> q205SemanticDecon _,
    "q206_ivf_append" -> q206IvfAppend _,
    "q207_join_elim" -> q207JoinElim _,
    "q208_split_leakage" -> q208SplitLeakage _,
    "q209_tokenizer_fertility" -> q209TokenizerFertility _,
    "q210_ivf_compact" -> q210IvfCompact _,
    "q211_null_stats" -> q211NullStats _,
    "q212_distinct_elim" -> q212DistinctElim _,
    "q213_fk_elim" -> q213FkElim _,
    "q214_store_filtered_ann" -> q214StoreFilteredAnn _,
    "q215_ivf_sq8" -> q215IvfSq8 _,
    "q216_store_knn_join" -> q216StoreKnnJoin _,
    "q218_store_knn_sweep" -> q218StoreKnnSweep _,
    "q219_clustered_ann" -> q219ClusteredAnn _,
    "q220_clustered_lifecycle" -> q220ClusteredLifecycle _,
    "q221_filtered_sweep" -> q221FilteredSweep _,
    "q222_text_store" -> q222TextStore _,
    "q223_text_lifecycle" -> q223TextLifecycle _,
    "q224_text_compact" -> q224TextCompact _,
    "q225_selective_compact" -> q225SelectiveCompact _,
    "q226_text_selective" -> q226TextSelective _,
    "q227_phrase_store" -> q227PhraseStore _,
    "q228_term_filter" -> q228TermFilter _,
    "q229_hybrid_store" -> q229HybridStore _,
    "q230_text_batch" -> q230TextBatch _,
    "q231_text_delete" -> q231TextDelete _,
    "q232_text_purge" -> q232TextPurge _,
    "q233_ivf_delete" -> q233IvfDelete _,
    "q234_text_update" -> q234TextUpdate _,
    "q235_lsh_delete" -> q235LshDelete _,
    "q236_phrase_batch" -> q236PhraseBatch _,
    "q237_near_search" -> q237NearSearch _,
    "q238_hybrid_batch" -> q238HybridBatch _,
    "q239_prf_expand" -> q239PrfExpand _,
    "q240_ndcg_eval" -> q240NdcgEval _,
    "q241_context_windows" -> q241ContextWindows _,
    "q242_contains_all" -> q242ContainsAll _,
    "q243_mrr_eval" -> q243MrrEval _,
    "q244_near_batch" -> q244NearBatch _,
    "q245_kwic_batch" -> q245KwicBatch _,
    "q246_retrieval_eval" -> q246RetrievalEval _,
    "q247_contains_batch" -> q247ContainsBatch _,
    "q248_prf_batch" -> q248PrfBatch _,
    "q249_not_near" -> q249NotNear _,
    "q250_lm_rank" -> q250LmRank _,
    "q251_unified_store" -> q251UnifiedStore _,
    "q252_spannot_batch" -> q252SpanNotBatch _,
    "q253_lm_batch" -> q253LmBatch _,
    "q254_tri_hybrid" -> q254TriHybrid _,
    "q255_wildcard_rank" -> q255WildcardRank _,
    "q256_fuzzy_rank" -> q256FuzzyRank _,
    "q257_wildcard_batch" -> q257WildcardBatch _,
    "q258_regexp_rank" -> q258RegexpRank _,
    "q259_fuzzy_batch" -> q259FuzzyBatch _,
    "q260_regexp_batch" -> q260RegexpBatch _,
    "q261_wildcard_phrase" -> q261WildcardPhrase _,
    "q262_facets" -> q262Facets _,
    "q263_bm25f" -> q263Bm25f _,
    "q264_bm25f_batch" -> q264Bm25fBatch _,
    "q265_facets_batch" -> q265FacetsBatch _,
    "q266_pruned_rank" -> q266PrunedRank _,
    "q267_pruned_multi" -> q267PrunedMulti _,
    "q268_pruned_lm" -> q268PrunedLm _,
    "q269_pruned_batch" -> q269PrunedBatch _,
    "q270_wildphrase_batch" -> q270WildPhraseBatch _,
    "q271_bm25f_positional" -> q271Bm25fPositional _,
    "q272_suffix_rank" -> q272SuffixRank _,
    "q273_facet_range" -> q273FacetRange _,
    "q274_facet_topdocs" -> q274FacetTopDocs _,
    "q275_sharded_rank" -> q275ShardedRank _,
    "q276_pruned_lm_batch" -> q276PrunedLmBatch _,
    "q277_sharded_pruned" -> q277ShardedPruned _,
    "q278_pruned_bm25f" -> q278PrunedBm25f _,
    "q279_sharded_lm" -> q279ShardedLm _,
    "q280_sharded_batch" -> q280ShardedBatch _,
    "q281_tombstone_prune" -> q281TombstonePrune _,
    "q282_expansion_pruned" -> q282ExpansionPruned _,
    "q283_ann_sharded" -> q283AnnSharded _,
    "q284_sharded_hybrid" -> q284ShardedHybrid _,
    "q285_pruned_bm25f_batch" -> q285PrunedBm25fBatch _,
    "q286_bm25f_sharded" -> q286Bm25fSharded _,
    "q287_facets_sharded" -> q287FacetsSharded _,
    "q203_dim_join" -> q203DimJoin _,
    "q178_pack_efficiency" -> q178PackEfficiency _,
    "q176_langid_confusion" -> q176LangConfusion _,
    "q177_psi_drift" -> q177PsiDrift _,
    "q175_heavy_hitters" -> q175HeavyHitters _,
    "q174_event_anomaly" -> q174EventAnomaly _,
    "q173_whiten" -> q173Whiten _,
    "q172_rrf_fusion" -> q172RrfFusion _,
    "q171_multiprobe" -> q171Multiprobe _,
    "q170_dim_stats" -> q170DimStats _,
    "q169_edit_gate" -> q169EditGate _,
    "q168_calibration" -> q168Calibration _,
    "q167_train_classifier" -> q167TrainClassifier _,
    "q166_curation_v3" -> q166CurationV3 _,
    "q159_source_quota" -> q159SourceQuota _,
    "q160_sq8_error" -> q160Sq8Error _,
    "q161_sq8_topk" -> q161Sq8TopK _,
    "q162_oov_rate" -> q162OovRate _,
    "q163_temperature_mix" -> q163TemperatureMix _,
    "q164_ngram_novelty" -> q164NgramNovelty _,
    "q165_sq8_recall" -> q165Sq8Recall _,
    "q137_pagerank" -> q137Pagerank _,
    "q138_anchor_text" -> q138AnchorText _,
    "q139_gopher_rules" -> q139GopherRules _,
    "q140_bloom_skip" -> q140BloomSkip _,
    "q141_shard_budget" -> q141ShardBudget _,
    "q142_dedup_delta" -> q142DedupDelta _,
    "q100_normalize" -> q100Normalize _,
    "q101_pq_adc" -> q101PqAdc _,
    "q143_ivfpq" -> q143IvfPq _,
    "q144_recall" -> q144Recall _,
    "q147_reassemble" -> q147Reassemble _,
    "q148_lm_buckets" -> q148LmBuckets _,
    "q149_matryoshka" -> q149Matryoshka _,
    "q150_knn_classify" -> q150KnnClassify _,
    "q151_readability" -> q151Readability _,
    "q152_lsh_precision" -> q152LshPrecision _,
    "q153_char_entropy" -> q153CharEntropy _,
    "q154_lsh_recall" -> q154LshRecall _,
    "q155_dataset_card" -> q155DatasetCard _,
    "q157_mrl_rerank" -> q157MrlRerank _,
    "q27_dedup_exact" -> q27DedupExact _,
    "q28_minhash_lsh" -> q28MinhashLsh _,
    "q29_jaccard" -> q29Jaccard _,
    "q30_simhash" -> q30Simhash _,
    "q31_cosine_topk" -> q31CosineTopK _,
    "q32_ann_bucket" -> q32AnnBucket _,
    "q33_langid" -> q33LangId _,
    "q34_quality" -> q34Quality _,
    "q35_tokencount" -> q35TokenCount _,
    "q36_fingerprint" -> q36Fingerprint _,
    "q37_timewindow" -> q37TimeWindow _,
    "q38_binarymeta" -> q38BinaryMeta _,
    "q124_mp4_roundtrip" -> q124Mp4RoundTrip _,
    "q125_mkv_parity" -> q125MkvParity _,
    "q129_warc_parse" -> q129WarcParse _,
    "q130_html_text" -> q130HtmlText _,
    "q131_url_stats" -> q131UrlStats _,
    "q132_line_quality" -> q132LineQuality _,
    "q133_bm25" -> q133Bm25 _,
    "q134_url_normalize" -> q134UrlNormalize _,
    "q135_outlinks" -> q135Outlinks _,
    "q136_robots" -> q136Robots _,
    "q39_corpus_stats" -> q39CorpusStats _,
    "q42_embed_neardup" -> q42EmbedNearDup _,
    "q44_ann_ivf" -> q44AnnIvf _,
    "q50_ann_nprobe" -> q50AnnNprobe _,
    "q45_split" -> q45Split _,
    "q52_decontaminate" -> q52Decontaminate _,
    "q53_stratified" -> q53Stratified _,
    "q54_repetition" -> q54Repetition _,
    "q46_curation" -> q46Curation _,
    "q63_dup_clusters" -> q63DupClusters _,
    "q64_length_quantiles" -> q64LengthQuantiles _,
    "q65_tfidf" -> q65Tfidf _,
    "q66_attribution" -> q66Attribution _,
    "q67_chunking" -> q67Chunking _,
    "q68_packing" -> q68Packing _,
    "q69_scrub" -> q69Scrub _,
    "q70_known_bigram" -> q70KnownBigram _,
    "q71_mixture" -> q71Mixture _,
    "q72_shards" -> q72Shards _,
    "q73_knn_join" -> q73KnnJoin _,
    "q74_segment_dedup" -> q74SegmentDedup _,
    "q75_sim_gate" -> q75SimGate _,
    "q80_filtered_ann" -> q80FilteredAnn _,
    "q83_window_topk" -> q83WindowTopk _,
    "q84_neg_sample" -> q84NegSample _,
    "q85_curation_v2" -> q85CurationV2 _,
    "q87_cooccur" -> q87Cooccur _,
    "q88_embed_qc" -> q88EmbedQc _,
    "q94_dup_spans" -> q94DupSpans _,
    "q95_classifier_score" -> q95ClassifierScore _,
    "q96_semantic_dedup" -> q96SemanticDedup _,
    "q97_lm_score" -> q97LmScore _,
    "q98_bpe_pairs" -> q98BpePairs _,
  )

  val oracles: Map[String, String] = Map(
    "q288_io_control" -> q288Sql,
    "q137_pagerank" -> q137Sql,
    "q138_anchor_text" -> q138Sql,
    "q139_gopher_rules" -> q139Sql,
    "q140_bloom_skip" -> q140Sql,
    "q141_shard_budget" -> q141Sql,
    "q142_dedup_delta" -> q142Sql,
    "q27_dedup_exact" -> q27Sql,
    "q28_minhash_lsh" -> q28Sql,
    "q29_jaccard" -> q29Sql,
    "q30_simhash" -> q30Sql,
    "q31_cosine_topk" -> q31Sql,
    "q32_ann_bucket" -> q32Sql,
    "q33_langid" -> q33Sql,
    "q34_quality" -> q34Sql,
    "q35_tokencount" -> q35Sql,
    "q36_fingerprint" -> q36Sql,
    "q37_timewindow" -> q37Sql,
    "q38_binarymeta" -> q38Sql,
    "q124_mp4_roundtrip" -> q124Sql,
    "q125_mkv_parity" -> q125Sql,
    "q129_warc_parse" -> q129Sql,
    "q130_html_text" -> q130Sql,
    "q131_url_stats" -> q131Sql,
    "q132_line_quality" -> q132Sql,
    "q133_bm25" -> q133Sql,
    "q134_url_normalize" -> q134Sql,
    "q135_outlinks" -> q135Sql,
    "q136_robots" -> q136Sql,
    "q39_corpus_stats" -> q39Sql,
    "q42_embed_neardup" -> q42Sql,
    "q44_ann_ivf" -> q44Sql,
    "q50_ann_nprobe" -> q50Sql,
    "q45_split" -> q45Sql,
    "q52_decontaminate" -> q52Sql,
    "q53_stratified" -> q53Sql,
    "q54_repetition" -> q54Sql,
    "q46_curation" -> q46Sql,
    "q63_dup_clusters" -> q63Sql,
    "q64_length_quantiles" -> q64Sql,
    "q65_tfidf" -> q65Sql,
    "q66_attribution" -> q66Sql,
    "q67_chunking" -> q67Sql,
    "q68_packing" -> q68Sql,
    "q69_scrub" -> q69Sql,
    "q70_known_bigram" -> q70Sql,
    "q71_mixture" -> q71Sql,
    "q72_shards" -> q72Sql,
    "q73_knn_join" -> q73Sql,
    "q74_segment_dedup" -> q74Sql,
    "q75_sim_gate" -> q75Sql,
    "q80_filtered_ann" -> q80Sql,
    "q83_window_topk" -> q83Sql,
    "q84_neg_sample" -> q84Sql,
    "q85_curation_v2" -> q85Sql,
    "q87_cooccur" -> q87Sql,
    "q88_embed_qc" -> q88Sql,
    "q94_dup_spans" -> q94Sql,
    "q95_classifier_score" -> q95Sql,
    "q96_semantic_dedup" -> q96Sql,
    "q97_lm_score" -> q97Sql,
    "q98_bpe_pairs" -> q98Sql,
    "q100_normalize" -> q100Sql,
    "q101_pq_adc" -> q101Sql,
    "q143_ivfpq" -> q143Sql,
    "q144_recall" -> q144Sql,
    "q147_reassemble" -> q147Sql,
    "q148_lm_buckets" -> q148Sql,
    "q149_matryoshka" -> q149Sql,
    "q150_knn_classify" -> q150Sql,
    "q151_readability" -> q151Sql,
    "q152_lsh_precision" -> q152Sql,
    "q153_char_entropy" -> q153Sql,
    "q154_lsh_recall" -> q154Sql,
    "q155_dataset_card" -> q155Sql,
    "q157_mrl_rerank" -> q157Sql,
    "q159_source_quota" -> q159Sql,
    "q160_sq8_error" -> q160Sql,
    "q161_sq8_topk" -> q161Sql,
    "q162_oov_rate" -> q162Sql,
    "q163_temperature_mix" -> q163Sql,
    "q164_ngram_novelty" -> q164Sql,
    "q165_sq8_recall" -> q165Sql,
    "q166_curation_v3" -> q166Sql,
    "q167_train_classifier" -> q167Sql,
    "q168_calibration" -> q168Sql,
    "q169_edit_gate" -> q169Sql,
    "q170_dim_stats" -> q170Sql,
    "q171_multiprobe" -> q171Sql,
    "q172_rrf_fusion" -> q172Sql,
    "q173_whiten" -> q173Sql,
    "q174_event_anomaly" -> q174Sql,
    "q175_heavy_hitters" -> q175Sql,
    "q176_langid_confusion" -> q176Sql,
    "q177_psi_drift" -> q177Sql,
    "q178_pack_efficiency" -> q178Sql,
    "q179_best_of_cluster" -> q179Sql,
    "q182_hard_negatives" -> q182Sql,
    "q183_class_keywords" -> q183Sql,
    "q185_weighted_sample" -> q185Sql,
    "q186_train_triples" -> q186Sql,
    "q187_score_norm" -> q187Sql,
    "q188_containment" -> q188Sql,
    "q190_curriculum" -> q190Sql,
    "q191_index_stats" -> q191Sql,
    "q192_bitext_margin" -> q192Sql,
    "q193_phrase_index" -> q193Sql,
    "q196_winnow" -> q196Sql,
    "q197_dsir" -> q197Sql,
    "q198_jsonl" -> q198Sql,
    "q195_bloom_rule" -> q195Sql,
    "q199_zipf" -> q199Sql,
    "q200_sample" -> q200Sql,
    "q201_meta_count" -> q201Sql,
    "q204_meta_minmax" -> q204Sql,
    "q205_semantic_decon" -> q205Sql,
    "q206_ivf_append" -> q206Sql,
    "q207_join_elim" -> q207Sql,
    "q208_split_leakage" -> q208Sql,
    "q209_tokenizer_fertility" -> q209Sql,
    "q210_ivf_compact" -> q210Sql,
    "q211_null_stats" -> q211Sql,
    "q212_distinct_elim" -> q212Sql,
    "q213_fk_elim" -> q213Sql,
    "q214_store_filtered_ann" -> q214Sql,
    "q215_ivf_sq8" -> q215Sql,
    "q216_store_knn_join" -> q216Sql,
    "q218_store_knn_sweep" -> q218Sql,
    "q219_clustered_ann" -> q219Sql,
    "q220_clustered_lifecycle" -> q220Sql,
    "q221_filtered_sweep" -> q221Sql,
    "q222_text_store" -> q222Sql,
    "q223_text_lifecycle" -> q223Sql,
    "q224_text_compact" -> q224Sql,
    "q225_selective_compact" -> q225Sql,
    "q226_text_selective" -> q226Sql,
    "q227_phrase_store" -> q227Sql,
    "q228_term_filter" -> q228Sql,
    "q229_hybrid_store" -> q229Sql,
    "q230_text_batch" -> q230Sql,
    "q231_text_delete" -> q231Sql,
    "q232_text_purge" -> q232Sql,
    "q233_ivf_delete" -> q233Sql,
    "q234_text_update" -> q234Sql,
    "q235_lsh_delete" -> q235Sql,
    "q236_phrase_batch" -> q236Sql,
    "q237_near_search" -> q237Sql,
    "q238_hybrid_batch" -> q238Sql,
    "q239_prf_expand" -> q239Sql,
    "q240_ndcg_eval" -> q240Sql,
    "q241_context_windows" -> q241Sql,
    "q242_contains_all" -> q242Sql,
    "q243_mrr_eval" -> q243Sql,
    "q244_near_batch" -> q244Sql,
    "q245_kwic_batch" -> q245Sql,
    "q246_retrieval_eval" -> q246Sql,
    "q247_contains_batch" -> q247Sql,
    "q248_prf_batch" -> q248Sql,
    "q249_not_near" -> q249Sql,
    "q250_lm_rank" -> q250Sql,
    "q251_unified_store" -> q251Sql,
    "q252_spannot_batch" -> q252Sql,
    "q253_lm_batch" -> q253Sql,
    "q254_tri_hybrid" -> q254Sql,
    "q255_wildcard_rank" -> q255Sql,
    "q256_fuzzy_rank" -> q256Sql,
    "q257_wildcard_batch" -> q257Sql,
    "q258_regexp_rank" -> q258Sql,
    "q259_fuzzy_batch" -> q259Sql,
    "q260_regexp_batch" -> q260Sql,
    "q261_wildcard_phrase" -> q261Sql,
    "q262_facets" -> q262Sql,
    "q263_bm25f" -> q263Sql,
    "q264_bm25f_batch" -> q264Sql,
    "q265_facets_batch" -> q265Sql,
    "q266_pruned_rank" -> q266Sql,
    "q267_pruned_multi" -> q267Sql,
    "q268_pruned_lm" -> q268Sql,
    "q269_pruned_batch" -> q269Sql,
    "q270_wildphrase_batch" -> q270Sql,
    "q271_bm25f_positional" -> q271Sql,
    "q272_suffix_rank" -> q272Sql,
    "q273_facet_range" -> q273Sql,
    "q274_facet_topdocs" -> q274Sql,
    "q275_sharded_rank" -> q275Sql,
    "q276_pruned_lm_batch" -> q276Sql,
    "q277_sharded_pruned" -> q277Sql,
    "q278_pruned_bm25f" -> q278Sql,
    "q279_sharded_lm" -> q268Sql,
    "q280_sharded_batch" -> q269Sql,
    "q281_tombstone_prune" -> q281Sql,
    "q282_expansion_pruned" -> q282Sql,
    "q283_ann_sharded" -> q283Sql,
    "q284_sharded_hybrid" -> q254Sql,
    "q285_pruned_bm25f_batch" -> q285Sql,
    "q286_bm25f_sharded" -> q263Sql,
    "q287_facets_sharded" -> q262Sql,
    "q202_epoch_mix" -> q202Sql,
    "q203_dim_join" -> q203Sql,
  )
}
