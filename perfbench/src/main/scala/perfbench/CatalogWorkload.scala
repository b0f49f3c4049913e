package perfbench

import java.io.File

import scala.collection.mutable

import graft.{Queries, SparkEntry}
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** `catalog`: every `SparkEntry.queries` entry once per pass over seeded
  * read-only tables. The documents use a 31-word vocabulary, so every cache
  * fits. The shared indexes and lifecycle engines the queries read are
  * built in set-up. Each query's physical plan runs to completion and every
  * output row is produced, as with the noop sink, but counted: a first,
  * untimed pass records each query's row count and every timed pass must
  * reproduce it.
  */
final class CatalogWorkload(spark: SparkSession, args: RunArgs, tracer: Tracer,
                            outcome: Outcome) extends Workload {

  private val names = SparkEntry.queries.keys.toIndexedSeq.sorted
  private val sfDir = s"${args.workDir}/sf"
  private var realIndex: String = _
  private val firstCounts = mutable.Map.empty[String, Long]
  private val counts = mutable.ArrayBuffer.empty[(String, Long)]

  override def opsPerRound: Int = names.length

  /** The shared indexes and engines land under java.io.tmpdir, which the
    * run script points into this run's work directory.
    */
  def setup(): Unit = {
    tracer.span("catalog.setup.tables", -1)(CatalogData.write(spark, sfDir, args.seed))
    tracer.span("catalog.setup.simple_index", -1)(
      Queries.cachedIndex(spark, sfDir, "simple", Queries.simpleTokenizer))
    realIndex = tracer.span("build", -1)(Queries.cachedIndex(spark, sfDir, "real", Bm25Tokenizer.default))
    tracer.span("catalog.setup.live_engine", -1)(Queries.lifecycleEngine(spark, sfDir, compacted = false))
    tracer.span("catalog.setup.compacted_engine", -1)(Queries.lifecycleEngine(spark, sfDir, compacted = true))
  }

  /** Runs the query's plan and returns its row count. */
  private def run(name: String): Long = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(s"perfbench catalog $name"))(qe.toRdd.count())
  }

  /** One untimed pass: fills the shared caches and records row counts. */
  def warmUp(): Unit = names.foreach { n =>
    try firstCounts(n) = run(n)
    catch { case e: Exception => outcome.opFailed(s"query $n", e) }
  }

  def op(i: Long, traced: Boolean): Double = {
    val name = names((i % names.length).toInt)
    val (rows, ms) = tracer.span(s"catalog.$name", i)(Common.timed(run(name)))
    counts += name -> rows
    ms
  }

  def check(): Unit = counts.foreach { case (n, rows) =>
    outcome.check(firstCounts.get(n).contains(rows),
      s"$n returned $rows rows, the first pass ${firstCounts.get(n)}")
  }

  def indexBytesPerInputByte: Double =
    Common.dataBytes(new File(realIndex)).toDouble /
      Common.dataBytes(new File(s"$sfDir/documents.parquet"))

  def sampleTexts: Seq[String] = (0L until CatalogData.Documents).map(CatalogData.text(args.seed, _))
  def sampleIndexDir: String = realIndex

  def layers(): Map[String, Double] = {
    val spans = names.map(n => n -> tracer.named(s"catalog.$n").filter(_.counts.jobs > 0))
    val all = spans.flatMap(_._2)
    val wallMs = all.map(_.ms).sum
    EngineFixture.buildLayers(tracer, realIndex) ++
    spans.flatMap { case (n, ss) => Seq(
      s"catalog.${n}_s" -> Stats.median(ss.map(_.ms / 1e3)),
      s"catalog.${n}_jobs" -> Stats.median(ss.map(_.counts.jobs.toDouble)))
    } ++ Map(
      "catalog.task_run_s" -> all.map(_.counts.taskRunMs).sum / 1e3 / math.max(1, all.length / names.length),
      "catalog.core_busy_ratio" -> all.map(_.counts.taskRunMs).sum / (wallMs * Common.cpus),
      "catalog.shuffle_bytes" -> all.map(s => s.counts.shuffleWriteBytes + s.counts.shuffleReadBytes).sum.toDouble /
        math.max(1, all.length / names.length),
      "catalog.spill_bytes" -> all.map(_.counts.spillBytes).sum.toDouble / math.max(1, all.length / names.length))
  }

  override def cleanup(): Unit = {
    Common.deleteTree(new File(args.workDir))
  }
}
