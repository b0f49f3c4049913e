package perfbench

import java.io.File

import graft.api.{Doc, SearchEngine}
import graft.bm25.Embedder
import graft.index.{Bm25Index, IndexManifest}
import graft.sources.CodeCorpus
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** An engine over documents `0 until n` of the seeded code corpus, loaded
  * the way a bulk loader would: avgdl fit, batch upsert, base build.
  */
object EngineFixture {
  /** Decimal row numbers, as `SearchEngine.withCorpus` assigns them. */
  def key(i: Long): String = i.toString

  /** Builds the engine at `dir` and returns the corpus's text bytes. */
  def build(spark: SparkSession, dir: String, n: Long, seed: Long, tracer: Tracer): Long = {
    import spark.implicits._
    Common.deleteTree(new File(dir))
    val docs = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => Doc(key(i), CodeCorpus.row(seed, i).content)).persist()
    try {
      val avgdl = Embedder.fitAvgdl(docs.map(_.contents), Bm25Tokenizer.default)
      val eng = SearchEngine.withAvgdl(spark, dir, avgdl)
      eng.upsertBatch(docs)
      tracer.span("build", -1)(eng.buildBase(avgdlOverride = Some(avgdl)))
      docs.select(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.length(col("contents"))))
        .head().getLong(0)
    } finally docs.unpersist(): Unit
  }

  /** `build.*` metrics of the last traced build, the one that wrote
    * `indexDir`.
    */
  def buildLayers(tracer: Tracer, indexDir: String): Map[String, Double] = {
    val spans = tracer.named("build").filter(_.counts.jobs > 0).takeRight(1)
    Common.buildLayers(spans, spans.map(_ => Common.stageSeconds(indexDir)),
      spans.map(_ => IndexManifest.read(indexDir)))
  }
}

/** `search`: read-only top-k searches through `SearchEngine.search` on an
  * engine with no pending deltas. WAND, the termstats lookup and the
  * contents resolve do the work; nothing is built while measuring.
  */
final class SearchWorkload(spark: SparkSession, args: RunArgs, tracer: Tracer,
                           outcome: Outcome) extends Workload {
  import SearchWorkload._
  import spark.implicits._

  private val dir = s"${args.workDir}/engine"
  private var inputBytes = 0L
  private var engine: SearchEngine = _
  private var index: Bm25Index = _
  private val queries = Common.queryMix(args.seed, Docs, 200)
  private var lifecycle: Option[LifecycleProbe] = None

  def setup(): Unit = {
    inputBytes = EngineFixture.build(spark, dir, Docs, args.seed, tracer)
    engine = SearchEngine.open(spark, dir)
    index = new Bm25Index(spark, s"$dir/index")
  }

  /** Searches from the end of the mix until `WarmSeconds` have passed: the
    * driver-side planning code a search runs is large and the JIT needs
    * seconds of searches to compile it.
    */
  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < WarmSeconds) {
      val q = queries(queries.length - 1 - i % queries.length)
      engine.search(q.text, Some(q.k))
      i += 1
    }
  }

  def op(i: Long, traced: Boolean): Double = {
    val q = queries((i % queries.length).toInt)
    val (_, ms) = tracer.span("api.search", i)(Common.timed(engine.search(q.text, Some(q.k))))
    if (traced) {
      val terms = tracer.span("index.query_terms", i)(index.queryTerms(q.text)).distinct
      tracer.span("index.termdfs", i)(index.termDfs(terms))
      tracer.span("index.wand", i)(index.search(q.text, Some(q.k), "wand").collect())
    }
    ms
  }

  /** The engine's WAND top-k and the index's WAND top-k must equal the
    * exhaustive scorer's in rank and f32 score bits, on a seeded subset.
    */
  def check(): Unit = {
    val rnd = new scala.util.Random(args.seed + 1)
    (0 until CheckedQueries).foreach { _ =>
      val q = queries(rnd.nextInt(queries.length))
      def bits(xs: Seq[(Long, Float)]) = xs.map { case (d, s) => (d, java.lang.Float.floatToIntBits(s)) }
      val exhaustive = bits(index.search(q.text, Some(q.k), "exhaustive").collect()
        .map(h => (h.doc_id, h.score)).toSeq)
      val wand = bits(index.search(q.text, Some(q.k), "wand").collect().map(h => (h.doc_id, h.score)).toSeq)
      val eng = bits(engine.search(q.text, Some(q.k)).map(r => (engine.surrogate(r.id), r.score)))
      outcome.check(wand == exhaustive, s"index WAND top-${q.k} != exhaustive for '${q.text}'")
      outcome.check(eng == exhaustive, s"engine top-${q.k} != exhaustive for '${q.text}'")
    }
    val n = engine.count()
    outcome.check(n == Docs, s"the engine holds $n documents, $Docs were loaded")
    val indexed = IndexManifest.read(s"$dir/index").nDocs
    outcome.check(indexed == Docs, s"the base index holds $indexed documents, $Docs were loaded")
  }

  /** Traced only: a repeated build, and the write path (the timed
    * searches run on an engine with no pending deltas).
    */
  override def tracedExtras(): Unit = {
    // a second load of the same corpus must build the same index
    val again = s"${args.workDir}/engine-again"
    EngineFixture.build(spark, again, Docs, args.seed, new Tracer(spark.sparkContext, None))
    val (a, b) = (Common.indexFacts(spark, s"$dir/index"), Common.indexFacts(spark, s"$again/index"))
    outcome.check(a == b, s"two builds of one corpus differ: $a vs $b")
    Common.deleteTree(new File(again))

    val probe = new LifecycleProbe(spark, dir, s"${args.workDir}/lifecycle", Docs, args.seed, tracer, outcome)
    probe.run(LifecycleProbe.Ops)
    lifecycle = Some(probe)
  }

  def indexBytesPerInputByte: Double = Common.dataBytes(new File(s"$dir/index")).toDouble / inputBytes

  def sampleTexts: Seq[String] = (0 until Common.SampleDocs).map(i => CodeCorpus.row(args.seed, i).content)
  def sampleIndexDir: String = s"$dir/index"

  def layers(): Map[String, Double] = {
    val search = tracer.named("api.search").filter(_.counts.jobs > 0)
    val ops = search.map(_.op).toSet
    def of(name: String) = tracer.named(name).filter(s => ops.contains(s.op))
    val wand = of("index.wand")
    val termdfs = of("index.termdfs")
    def med(xs: Seq[Span])(f: Span => Double) = Stats.median(xs.map(f))
    // index blocks of each traced query's terms, counted outside the timed spans
    val blocks = search.map { s =>
      val terms = index.queryTerms(queries((s.op % queries.length).toInt).text).distinct
      if (terms.isEmpty) 0L
      else spark.read.parquet(s"$dir/index/postings").where($"term".isin(terms.map(Long.box): _*)).count()
    }
    val resolve = search.map { s =>
      s.ms - termdfs.find(_.op == s.op).map(_.ms).getOrElse(0.0) - wand.find(_.op == s.op).map(_.ms).getOrElse(0.0)
    }
    EngineFixture.buildLayers(tracer, s"$dir/index") ++ lifecycle.map(_.layers()).getOrElse(Map.empty) ++ Map(
      "index.query_terms_ms" -> med(of("index.query_terms"))(_.ms),
      "index.termdfs_ms" -> med(termdfs)(_.ms),
      "index.wand_ms" -> med(wand)(_.ms),
      "index.wand_jobs" -> med(wand)(_.counts.jobs.toDouble),
      "index.wand_tasks" -> med(wand)(_.counts.tasks.toDouble),
      "index.wand_task_run_ms" -> med(wand)(_.counts.taskRunMs.toDouble),
      "index.wand_shuffle_bytes" -> med(wand)(s => (s.counts.shuffleWriteBytes + s.counts.shuffleReadBytes).toDouble),
      "index.wand_core_busy_ratio" -> med(wand)(s => s.counts.taskRunMs / (s.ms * Common.cpus)),
      "index.blocks_total" -> blocks.sum.toDouble,
      "index.blocks_skipped" -> search.map(_.counts.skippedBlocks).sum.toDouble,
      "index.blocks_skipped_ratio" -> search.map(_.counts.skippedBlocks).sum.toDouble / math.max(1L, blocks.sum),
      "api.search_ms" -> med(search)(_.ms),
      "api.search_jobs" -> med(search)(_.counts.jobs.toDouble),
      "api.search_tasks" -> med(search)(_.counts.tasks.toDouble),
      "api.resolve_ms" -> Stats.median(resolve))
  }

  override def cleanup(): Unit = Common.deleteTree(new File(args.workDir))
}

object SearchWorkload {
  val Docs = 5000L
  val WarmSeconds = 5.0
  val CheckedQueries = 2
}
