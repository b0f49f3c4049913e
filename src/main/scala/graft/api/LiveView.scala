package graft.api

import graft.bm25.{Bm25Math, Embedder}
import graft.index.{Bm25Index, IndexTables, Posting}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A doc with log rows past the base: whether its latest row is a tombstone
  * and, when it is live, its postings of the query terms.
  */
private[api] final case class Churned(doc_id: Long, tombstone: Boolean, postings: Array[Posting])

/** One query's snapshot of an engine's live view: the base index minus every
  * doc changed since the base was built, plus the changed docs' latest live
  * versions. It opens the base and collects the changed docs once, and
  * derives from them everything a search scores with:
  *
  *   - N = base docs − superseded base docs + live changed docs;
  *   - df(t) = base df(t) − superseded base docs holding t + live changed
  *     docs holding t, so scores equal a fresh engine over the live docs;
  *   - the base postings of the query terms without the superseded docs,
  *     and the changed docs' postings, embedded in executors.
  *
  * Up to `SearchEngine.ChurnCutoff` changed docs are collected to the
  * driver, with their postings: the superseded ids then feed WAND's
  * exclusion set and a literal or broadcast id filter. Past the cutoff every
  * piece stays a distributed plan over the changed docs, and a limited
  * search scores exhaustively.
  *
  * @param changedRows each changed doc's latest row past the base as
  *                    (doc_id, tombstone, contents); None when nothing is
  *                    pending
  */
private[graft] final class LiveView private[api] (
    spark: SparkSession,
    val base: Option[Bm25Index],
    val terms: Array[Long],
    val emb: Embedder,
    changedRows: Option[DataFrame]) {
  import spark.implicits._

  private val changed: Option[Dataset[Churned]] = changedRows.map { rows =>
    val (e, qset) = (emb, terms.toSet)
    rows.as[(Long, Boolean, String)].map { case (id, dead, contents) =>
      if (dead) Churned(id, dead, Array.empty)
      else {
        val (ts, tfs, dl) = e.termFrequencies(contents)
        Churned(id, dead,
          ts.indices.collect { case i if qset.contains(ts(i)) => Posting(id, ts(i), tfs(i), dl) }.toArray)
      }
    }
  }

  /** The changed docs on the driver; None past the churn cutoff. */
  val churned: Option[Array[Churned]] = changed match {
    case None => Some(Array.empty)
    case Some(ds) =>
      val rows = ds.limit(SearchEngine.ChurnCutoff + 1).collect()
      if (rows.length <= SearchEngine.ChurnCutoff) Some(rows) else None
  }

  private def noChurn: Boolean = churned.exists(_.isEmpty)

  /** `table` restricted to the changed docs' ids, or cleared of them. */
  private def superseded(table: DataFrame, keep: Boolean): DataFrame = churned match {
    case Some(rows) => SearchEngine.docIdsIn(table, rows.map(_.doc_id), keep)
    case None => table.join(broadcast(changed.get.select($"doc_id")), Seq("doc_id"),
      if (keep) "left_semi" else "left_anti")
  }

  /** df of the query terms in the base, as built. */
  val baseDf: Map[Long, Long] = base.map(_.termDfs(terms)).getOrElse(Map.empty)

  // One aggregate over the superseded docs' forward rows counts them and,
  // per query term, those holding it.
  private val (supersededN, supersededDf) = base match {
    case Some(idx) if !noChurn =>
      val row = superseded(IndexTables.forward(spark, idx.indexDir), keep = true)
        .agg(count(lit(1)), terms.map(t => count(when(array_contains($"terms", t), 1))): _*)
        .head()
      (row.getLong(0), terms.indices.map(i => terms(i) -> row.getLong(i + 1)).toMap)
    case _ => (0L, Map.empty[Long, Long])
  }

  private val (deltaN, deltaDf) = churned match {
    case Some(rows) =>
      (rows.count(!_.tombstone).toLong,
        rows.toSeq.flatMap(_.postings).groupBy(_.term).map { case (t, ps) => t -> ps.size.toLong })
    case None =>
      (changed.get.where(!$"tombstone").count(),
        deltaPostings.groupBy($"term").count().as[(Long, Long)].collect().toMap)
  }

  val n: Long = base.fold(0L)(_.nDocs) - supersededN + deltaN

  val df: Map[Long, Long] = terms.iterator.map { t =>
    t -> (baseDf.getOrElse(t, 0L) - supersededDf.getOrElse(t, 0L) + deltaDf.getOrElse(t, 0L))
  }.toMap

  def idfs: Map[Long, Float] = df.map { case (t, d) => t -> Bm25Math.idf(n, d) }

  /** Base postings of the query terms, superseded docs excluded. */
  def basePostings: Dataset[Posting] = base match {
    case None => spark.emptyDataset[Posting]
    case Some(idx) if noChurn => idx.postingsFor(terms)
    case Some(idx) => superseded(idx.postingsFor(terms).toDF(), keep = false).as[Posting]
  }

  /** The live changed docs' postings of the query terms. */
  def deltaPostings: Dataset[Posting] = churned match {
    case Some(rows) => spark.createDataset(rows.toSeq.flatMap(_.postings))
    case None => changed.get.flatMap(_.postings)
  }

  /** Every live posting of the query terms: a doc sits on one side only. */
  def postings: Dataset[Posting] = basePostings.union(deltaPostings)
}
