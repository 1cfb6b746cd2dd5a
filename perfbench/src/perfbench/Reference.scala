package perfbench

import scala.collection.mutable

/** The benchmark's own ranking reference over the live (non-deleted)
  * documents, written to the oracle formulas of `queries/Pipeline.scala`
  * (q133 for BM25 with k1 = 1.2 and b = 0.75, q250 for Dirichlet LM with
  * mu = 2000): every per-term contribution is rounded to 6 decimals
  * (Spark's HALF_UP `round`) and summed exactly, the score is that sum as
  * a double, ties break on doc_id. Tokens split on whitespace, like the
  * store's tokenizer. */
final class Reference {
  private val docLen = mutable.HashMap.empty[Long, Int]
  private val docBytes = mutable.HashMap.empty[Long, Int]
  private val postings = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
  private var sumDl = 0L
  private var liveBytes = 0L

  def size: Int = docLen.size
  /** UTF-8 bytes of the live documents' text. */
  def textBytes: Long = liveBytes

  def add(id: Long, text: String): Unit = {
    require(!docLen.contains(id), s"doc $id added twice")
    val toks = text.split("\\s+", -1)
    docLen(id) = toks.length
    docBytes(id) = text.getBytes("UTF-8").length
    liveBytes += docBytes(id)
    sumDl += toks.length
    toks.groupBy(identity).foreach { case (w, occ) =>
      postings.getOrElseUpdate(w, mutable.HashMap.empty)(id) = occ.length
    }
  }

  /** Removes live ids; returns how many were live. */
  def delete(ids: Seq[Long]): Int = ids.count { id =>
    docLen.remove(id) match {
      case Some(dl) =>
        sumDl -= dl
        liveBytes -= docBytes.remove(id).get
        postings.valuesIterator.foreach(_.remove(id))
        true
      case None => false
    }
  }

  private def r6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Top-k (doc_id, score), best first. */
  def topK(terms: Seq[String], k: Int, scorer: String): Seq[(Long, Double)] = {
    val scores = mutable.HashMap.empty[Long, BigDecimal]
    val n = docLen.size.toDouble
    val avgdl = r6(sumDl.toDouble / n).toDouble
    val c = sumDl.toDouble
    terms.distinct.foreach { w =>
      postings.get(w).filter(_.nonEmpty).foreach { ps =>
        val df = ps.size.toDouble
        val ctf = ps.valuesIterator.map(_.toLong).sum.toDouble
        val idf = r6(StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))).toDouble
        ps.foreach { case (id, tf0) =>
          val tf = tf0.toDouble
          val dl = docLen(id).toDouble
          val contrib = scorer match {
            case "bm25" =>
              r6(idf * (tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
            case "lm" =>
              r6(StrictMath.log(1.0 + tf * c / (2000.0 * ctf))) +
                r6(StrictMath.log(2000.0 / (dl + 2000.0)))
          }
          scores(id) = scores.getOrElse(id, BigDecimal(0)) + contrib
        }
      }
    }
    scores.toSeq.map { case (id, s) => (id, s.toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

object Reference {
  /** The first difference between an answer and the reference, if any.
    * Scores may differ by rounding noise only. */
  def diff(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"ids ${got.map(_._1).mkString(",")} != ${want.map(_._1).mkString(",")}")
    else got.zip(want).collectFirst {
      case ((id, a), (_, b)) if math.abs(a - b) > 2e-6 => s"doc $id score $a != $b"
    }
}
