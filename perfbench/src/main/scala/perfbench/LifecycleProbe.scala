package perfbench

import java.io.File

import scala.collection.mutable

import graft.api.{Doc, SearchEngine}
import graft.index.Bm25Index
import graft.sources.CodeCorpus
import org.apache.spark.sql.SparkSession

/** Writes beside reads, for the traced `search` run: on a fresh copy of the
  * set-up engine, a seeded mix of single-doc upserts (new and replaced
  * keys), removes, gets and limited searches with deltas pending, with
  * `compact()` after every `CompactEvery` mutations. Exercises the live
  * view (delta re-embedding, superseded exclusion, live df/N) and
  * compaction, which the timed searches bypass. A model of the ops issued
  * checks every get, the final count, and that a limited live search equals
  * the first k of the unlimited one.
  */
final class LifecycleProbe(spark: SparkSession, template: String, dir: String, baseDocs: Long,
                           seed: Long, tracer: Tracer, outcome: Outcome) {
  import LifecycleProbe._

  private val queries = Common.queryMix(seed, baseDocs, 100)
  private val rnd = new scala.util.Random(seed * 17 + 3)
  /** Contents of keys changed since set-up (None once removed); other
    * base keys hold their set-up text.
    */
  private val changed = mutable.Map.empty[String, Option[String]]
  private var liveCount = baseDocs
  private var newKeys = 0L
  private var sinceCompact = 0
  private var userBytes = 0L
  private var logBytesWritten = 0L

  Common.deleteTree(new File(dir))
  Common.copyTree(new File(template), new File(dir))
  private val engine = SearchEngine.open(spark, dir)

  private def expected(key: String): Option[String] = changed.getOrElse(key,
    key.toLongOption.filter(_ < baseDocs).map(i => CodeCorpus.row(seed, i).content))

  private def modelPut(key: String, contents: Option[String]): Unit = {
    liveCount += (if (contents.isDefined) 1 else 0) - (if (expected(key).isDefined) 1 else 0)
    changed(key) = contents
    sinceCompact += 1
  }

  /** Runs a write of `bytes` user bytes and counts what it appended to the
    * docstore log.
    */
  private def logWrite(bytes: Long)(write: => Unit): Unit = {
    val log = new File(s"$dir/docstore")
    val before = Common.dataBytes(log)
    write
    logBytesWritten += Common.dataBytes(log) - before
    userBytes += bytes
  }

  /** Keys stay decimal row numbers, like the base's: new keys continue
    * after the base.
    */
  private def randomKey(): String =
    (if (newKeys > 0 && rnd.nextInt(3) == 0) baseDocs + rnd.nextLong(newKeys)
     else rnd.nextLong(baseDocs)).toString

  private def newContents(): String =
    CodeCorpus.row(seed + 1, rnd.nextLong(1L << 40)).content.take(MaxDocChars)

  private def step(i: Long): Unit = {
    if (sinceCompact >= CompactEvery) {
      tracer.span("api.compact", i)(engine.compact())
      sinceCompact = 0
      return
    }
    val r = rnd.nextDouble()
    if (r < 0.5) {
      val key = if (r < 0.3) { newKeys += 1; (baseDocs + newKeys - 1).toString } else randomKey()
      val contents = newContents()
      logWrite(key.length + contents.length)(tracer.span("api.upsert", i)(engine.upsert(Doc(key, contents))))
      modelPut(key, Some(contents))
    } else if (r < 0.6) {
      val key = randomKey()
      logWrite(key.length)(tracer.span("api.remove", i)(engine.remove(key)))
      modelPut(key, None)
    } else if (r < 0.8) {
      val key = randomKey()
      val got = tracer.span("api.get", i)(engine.get(key))
      outcome.check(got.map(_.contents) == expected(key), s"get($key) disagrees with the model")
    } else {
      val q = queries(rnd.nextInt(queries.length))
      // right after a compaction nothing is pending and the search is not live
      val name = if (engine.hasPendingDeltas) "api.live_search" else "lifecycle.search"
      tracer.span(name, i)(engine.search(q.text, Some(q.k)))
    }
  }

  def run(ops: Int): Unit = {
    // op ids after the timed window's, so each span's op is unique in the trace
    (0 until ops).foreach(i => step(OpIds + i))
    if (!engine.hasPendingDeltas) {
      val doc = Doc((baseDocs + newKeys).toString, newContents())
      newKeys += 1
      engine.upsert(doc)
      modelPut(doc.id, Some(doc.contents))
    }
    // the query of a few whose terms are rarest keeps the unlimited search small
    val base = new Bm25Index(spark, s"$dir/index")
    val q = queries.take(8).map { q =>
      q -> base.termDfs(base.queryTerms(q.text).distinct).values.maxOption.getOrElse(0L)
    }.filter(_._2 > 0).minBy(_._2)._1
    def bits(xs: Seq[graft.api.SearchResult]) = xs.map(r => (r.id, java.lang.Float.floatToIntBits(r.score)))
    val limited = bits(engine.search(q.text, Some(CheckK)))
    val unlimited = bits(engine.search(q.text, None).take(CheckK))
    outcome.check(limited == unlimited,
      s"live top-$CheckK != first $CheckK of the unlimited search for '${q.text}'")
    val got = engine.count()
    outcome.check(got == liveCount, s"count() = $got, the model holds $liveCount live docs")
  }

  def layers(): Map[String, Double] = {
    def of(name: String) = tracer.named(name).filter(_.counts.jobs > 0)
    def med(name: String)(f: Span => Double) = Stats.median(of(name).map(f))
    val compact = of("api.compact")
    Map(
      "api.upsert_ms" -> med("api.upsert")(_.ms),
      "api.remove_ms" -> med("api.remove")(_.ms),
      "api.get_ms" -> med("api.get")(_.ms),
      "api.get_jobs" -> med("api.get")(_.counts.jobs.toDouble),
      "api.live_search_ms" -> med("api.live_search")(_.ms),
      "api.live_search_jobs" -> med("api.live_search")(_.counts.jobs.toDouble),
      "api.live_search_tasks" -> med("api.live_search")(_.counts.tasks.toDouble),
      "api.log_files" -> Common.dataFiles(new File(s"$dir/docstore")).toDouble,
      "api.bytes_written_per_user_byte" -> logBytesWritten.toDouble / math.max(1L, userBytes),
      "compact.s" -> Stats.median(compact.map(_.ms / 1e3)),
      "compact.jobs" -> Stats.median(compact.map(_.counts.jobs.toDouble)),
      "compact.task_run_s" -> Stats.median(compact.map(_.counts.taskRunMs / 1e3)),
      "compact.shuffle_write_bytes" -> Stats.median(compact.map(_.counts.shuffleWriteBytes.toDouble)),
      "compact.spill_bytes" -> Stats.median(compact.map(_.counts.spillBytes.toDouble)))
  }
}

object LifecycleProbe {
  val Ops = 30
  val OpIds = 1000000L
  val CompactEvery = 10
  val CheckK = 10
  /** Single-doc upserts are kept to a few KB, like an edited source file. */
  val MaxDocChars = 4000
}
