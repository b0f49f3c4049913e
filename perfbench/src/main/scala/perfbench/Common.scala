package perfbench

import java.io.File

import graft.index.{Checkpoints, CorpusDoc, IndexManifest}
import graft.sources.CodeCorpus
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A search as the client issues it. */
final case class Query(text: String, k: Int)

object Common {

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def copyTree(from: File, to: File): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.walk(from.toPath).forEach { p =>
      val q = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Bytes of the data files under `dir`, without Hadoop's checksum files
    * and markers.
    */
  def dataBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(dataBytes).sum
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0L
    else dir.length()

  def dataFiles(dir: File): Int =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0
    else 1

  /** The seeded code corpus: documents `0 until n` of `CodeCorpus`. */
  def codeCorpus(spark: SparkSession, n: Long, seed: Long): Dataset[CorpusDoc] = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => CorpusDoc(i, CodeCorpus.row(seed, i).content))
  }

  /** Writes the corpus as parquet and returns its text bytes (ASCII). */
  def writeCorpus(spark: SparkSession, n: Long, seed: Long, path: String): Long = {
    codeCorpus(spark, n, seed).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(sum(length(col("content")))).head().getLong(0)
  }

  /** A seeded mix of 1–4 term searches with k ∈ {10, 100}, cycling
    * through the eight (terms, k) combinations so that every run issues
    * them in the same proportions. Each term is a token drawn at a random
    * position of a random corpus document, so terms follow the corpus's own
    * Zipf distribution: mostly head terms, with the long tail represented
    * in proportion.
    */
  def queryMix(seed: Long, corpusDocs: Long, n: Int): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    IndexedSeq.tabulate(n) { j =>
      val terms = Seq.fill(1 + j % 4) {
        val words = CodeCorpus.row(seed, rnd.nextLong(corpusDocs)).content.split("\\s+")
        words(rnd.nextInt(words.length))
      }
      Query(terms.mkString(" "), if (j / 4 % 2 == 0) 10 else 100)
    }
  }

  /** Order-independent digest of an index's posting blocks plus their
    * count: two builds of one corpus must agree on it.
    */
  def postingsDigest(spark: SparkSession, indexDir: String): (Long, Long) = {
    val r = spark.read.parquet(s"$indexDir/postings")
      .select(xxhash64(col("shard"), col("term"), col("block"), col("cnt"), col("max_tf"),
        col("min_dl"), col("min_doc"), col("max_doc"), col("docs"), col("tfs"), col("dls")).as("h"))
      .agg(coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)).cast("string"), count(lit(1)))
      .head()
    (r.getString(0).hashCode.toLong, r.getLong(1))
  }

  /** What two builds of one corpus must agree on. */
  final case class IndexFacts(nDocs: Long, sumDl: Long, avgdlBits: Int, postings: Double,
                              blocks: Double, compressedBytes: Double, vocabulary: Double,
                              digest: (Long, Long))

  def indexFacts(spark: SparkSession, indexDir: String): IndexFacts = {
    val m = IndexManifest.read(indexDir)
    IndexFacts(m.nDocs, m.sumDl, java.lang.Float.floatToIntBits(m.avgdl), m.metrics("postings"),
      m.metrics("blocks"), m.metrics("compressedBytes"), m.metrics("vocabulary"),
      postingsDigest(spark, indexDir))
  }

  /** Seconds of each build stage, from the checkpoint markers
    * `IndexBuilder` commits.
    */
  def stageSeconds(indexDir: String): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val secs = Checkpoints.readAll(indexDir).toSeq.flatMap { case (name, json) =>
      Option(mapper.readTree(json).get("seconds")).map(s => name -> s.asDouble())
    }
    def total(p: String => Boolean) = secs.collect { case (n, s) if p(n) => s }.sum
    Map(
      "build.forward_s" -> total(_ == "forward"),
      "build.postings_s" -> total(_.startsWith("postings_")),
      "build.termstats_s" -> total(_ == "termstats"))
  }

  /** What the traced index builds did, as `build.*` per-layer metrics
    * (medians over the builds). `spans` are the traced spans around the
    * build calls; `stages` and `manifests` belong to the same builds.
    */
  def buildLayers(spans: Seq[Span], stages: Seq[Map[String, Double]],
                  manifests: Seq[IndexManifest]): Map[String, Double] = {
    if (spans.isEmpty) return Map.empty
    def med(f: Span => Double) = Stats.median(spans.map(f))
    val stageMed = stages.headOption.toSeq.flatMap(_.keys).map(k => k -> Stats.median(stages.map(_(k))))
    stageMed.toMap ++ Map(
      "build.jobs" -> med(_.counts.jobs.toDouble),
      "build.tasks" -> med(_.counts.tasks.toDouble),
      "build.task_run_s" -> med(_.counts.taskRunMs / 1e3),
      "build.gc_s" -> med(_.counts.gcMs / 1e3),
      "build.core_busy_ratio" -> med(s => s.counts.taskRunMs / (s.ms * Common.cpus)),
      "build.shuffle_write_bytes" -> med(_.counts.shuffleWriteBytes.toDouble),
      "build.shuffle_read_bytes" -> med(_.counts.shuffleReadBytes.toDouble),
      "build.spill_bytes" -> med(_.counts.spillBytes.toDouble),
      "build.bytes_per_posting" -> Stats.median(manifests.map(_.metrics("bytesPerPosting"))))
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Documents the Spark-free kernel timers run over. */
  val SampleDocs = 300
}
