package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fold-on-threshold maintenance for append-only sidecar directories
  * (`_corpus_stats`, `_tombstones`, `_doclen`, and the IVF/LSH stores'
  * tombstone sidecars). Append-only sidecars are what make deletes and
  * stats bumps O(event) instead of O(store) — but one file per event
  * means a high-churn store (thousands of deletes between compactions)
  * pays a growing small-file listing+footer-merge on EVERY read. Once a
  * sidecar exceeds a file-count threshold, the maintaining op folds it:
  * rewrite through the sidecar's own idempotent dedup/aggregate into
  * byte-targeted files, swap rename-aside ([[HadoopSwap.swapInto]]).
  *
  * Crash discipline: the only window (between swapInto's two renames)
  * leaves the live sidecar parked under `.old-<stamp>` — and a missing
  * TOMBSTONE sidecar reads as "no deletes", silently resurrecting
  * every masked row. So every sidecar READER must call [[restoreAside]]
  * before its existence check (one metadata RPC when the sidecar is
  * healthy; globs only run on the miss path). Same single-maintainer
  * assumption as every store rewrite: folds run inside the op that owns
  * the sidecar (delete, ingest), so a pipeline never races its own
  * maintenance. Object stores route rewrites through a VersionedStore
  * manifest instead (see [[HadoopSwap]]'s caveat).
  */
object SidecarFold {

  /** Bounded re-plan retry for EAGER sidecar reads racing a fold's
    * atomic swap: a reader that lists the sidecar's files just before
    * the swap executes against names that no longer exist and fails
    * with Spark's FAILED_READ_FILE / FileNotFound — a STALE PLAN, not
    * lost data (the folded replacement holds the same logical rows by
    * construction). Retrying re-lists and answers exactly. Never use
    * ignoreMissingFiles for this: during the swap window EVERY listed
    * file vanishes at once, and a silently-empty sidecar read turns
    * into silently-zero corpus stats. Rethrows after `attempts`
    * genuine failures (a sidecar that is truly gone keeps failing —
    * loud, like every store-corruption path). Lazy sidecar frames
    * that ride inside a bigger serve plan (the tombstone anti-join)
    * are NOT covered — there the retry belongs to whoever runs the
    * action; tombstone folds fire only inside delete(), which the
    * single-maintainer discipline already serializes against other
    * maintenance. */
  @annotation.tailrec
  def withReadRetry[T](attempts: Int = 5)(f: => T): T = {
    val r =
      try Right(f)
      catch {
        case e: Throwable if attempts > 1 && vanishedFile(e) => Left(())
      }
    r match {
      case Right(v) => v
      case Left(_) => withReadRetry(attempts - 1)(f)
    }
  }

  private def vanishedFile(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[java.io.FileNotFoundException] ||
      Option(e.getMessage).exists(m =>
        m.contains("FAILED_READ_FILE") || m.contains("does not exist")) ||
      vanishedFile(e.getCause))

  /** Fold scaffolding next to a sidecar: `.old-<stamp>` (live history
    * renamed aside by swapInto) and `.fold-<stamp>` (the folded
    * replacement not yet renamed in). Both start with the sidecar's
    * `_` prefix, so data reads never see them. */
  private def asides(fs: org.apache.hadoop.fs.FileSystem,
                     side: String): Seq[FileStatus] =
    Seq(".old-*", ".fold-*").flatMap(suf =>
      Option(fs.globStatus(new Path(side + suf)))
        .fold(Seq.empty[FileStatus])(_.toSeq))

  /** Crash-heal the swap window: when the live sidecar is missing but
    * fold scaffolding exists, restore the newest `.old-` aside (always
    * the verbatim history at the instant the live dir was renamed away;
    * `.fold-` is a belt-and-braces fallback, unreachable from
    * swapInto's ordering). No-op when the sidecar exists or the store
    * is genuinely fresh.
    *
    * Readers are HEAL-ONLY: the restore renames the aside into place
    * and deletes NOTHING — scaffolding cleanup belongs to the
    * maintainer ([[foldIfDecayed]] clears residue on its next run). A
    * cross-job reader that hits a live fold's swap window can still
    * abort that fold (its rename of `.old-` back to live makes the
    * maintainer's swapInto fail loudly, after the data append already
    * landed — answers stay correct, the fold just didn't happen), but
    * heal-only readers can never destroy the maintainer's in-flight
    * `.fold-` output. The documented single-maintainer discipline
    * covers WRITES; concurrent cross-job readers are safe because the
    * only mutation they perform is the aside-wins restore, which is
    * idempotent and race-tolerant (loser's rename fails after the
    * winner restored). Scaffolding stamps that don't parse as numbers
    * (a foreign `<side>.old-junk` path) are skipped, never restored
    * and never a parse crash. */
  def restoreAside(spark: SparkSession, side: String): Unit = {
    val fs = HadoopSwap.fs(spark, side)
    val live = new Path(side)
    if (fs.exists(live)) return
    def stamp(st: FileStatus): Option[Long] =
      st.getPath.getName.split("-").last.toLongOption
    val found = asides(fs, side).filter(stamp(_).isDefined)
    if (found.isEmpty) return
    val (olds, folds) = found.partition(_.getPath.getName.contains(".old-"))
    val pick = (if (olds.nonEmpty) olds else folds).maxBy(stamp(_).get)
    if (!fs.rename(pick.getPath, live))
      // two concurrent readers can race this heal; the loser's rename
      // fails AFTER the winner restored — only refuse when the live
      // sidecar is still missing (a genuinely failed restore)
      require(fs.exists(live),
        s"crash-heal restore ${pick.getPath} -> $side failed — refusing " +
          "to proceed against a store whose only sidecar copy is an aside")
  }

  /** One directory entry: name, length in bytes, modification time. */
  type Entry = (String, Long, Long)

  /** `dir`'s entries, or None when it does not exist — a filesystem
    * metadata call, never a Spark job. Any append, fold, swap or
    * foreign writer changes it, which is what makes it a sidecar's
    * state key. */
  def listing(spark: SparkSession, dir: String): Option[Seq[Entry]] = {
    val fs = HadoopSwap.fs(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq.map(s =>
      (s.getPath.getName, s.getLen, s.getModificationTime)))
  }

  /** The write-through guard: whether `after` is `before` plus exactly
    * `wrote` new data files, every data entry of `before` unchanged.
    * Only then may a writer hand the rows it just wrote to a memo of
    * the pre-write state instead of letting the next reader re-read the
    * whole sidecar. A foreign writer's file shows as one entry too many
    * and a fold or swap as changed or missing entries; the caller then
    * invalidates. Bookkeeping entries (`_SUCCESS`, dot-prefixed
    * checksums and in-progress files) hold no rows and are ignored. */
  def grewBy(before: Seq[Entry], after: Seq[Entry], wrote: Int): Boolean = {
    def data(l: Seq[Entry]) =
      l.filterNot(e => e._1.startsWith("_") || e._1.startsWith(".")).toSet
    val (b, a) = (data(before), data(after))
    b.subsetOf(a) && (a -- b).size == wrote
  }

  /** Fold `side` when it holds more than `threshold` parquet files:
    * `rewrite` (the sidecar's own read-side dedup/aggregate — folding
    * through it is a no-op to every reader by construction) lands in
    * `ceil(bytes / targetFileBytes)` files and swaps in atomically.
    * Heals a prior fold's crash window first, and clears stale
    * scaffolding sitting next to a healthy live sidecar (a crash after
    * the swap completed, before the aside delete) so a later restore
    * can only ever resurrect current history. Returns whether a fold
    * ran. */
  def foldIfDecayed(spark: SparkSession, side: String, threshold: Int,
                    mergeSchema: Boolean = false,
                    targetFileBytes: Long = 128L << 20)
                   (rewrite: DataFrame => DataFrame): Boolean = {
    require(threshold >= 1, "fold threshold must be at least one file")
    restoreAside(spark, side)
    val fs = HadoopSwap.fs(spark, side)
    val p = new Path(side)
    if (!fs.exists(p)) return false
    asides(fs, side).foreach(st => fs.delete(st.getPath, true))
    val nFiles = fs.listStatus(p)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (nFiles <= threshold) return false
    // byte-targeted output: a corpus-sized sidecar (_doclen) must not
    // funnel through one task; pre-fold bytes over-estimate the deduped
    // size, which only errs toward a few extra (still bounded) files
    val target = math.max(1L, (fs.getContentSummary(p).getLength +
      targetFileBytes - 1) / targetFileBytes).toInt
    val stamp = java.lang.System.nanoTime()
    val tmp = side + ".fold-" + stamp
    // the footer-derived schema when the files agree: no inference job
    rewrite(ParquetUpsert.knownSchema(spark, Seq(side), merge = mergeSchema)
        .fold(spark.read.option("mergeSchema", mergeSchema.toString))(
          spark.read.schema).parquet(side))
      .coalesce(target).write.mode("overwrite").parquet(tmp)
    HadoopSwap.swapInto(spark, tmp, side, side + ".old-" + stamp)
    true
  }
}
