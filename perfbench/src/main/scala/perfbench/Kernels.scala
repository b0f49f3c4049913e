package perfbench

import graft.bm25.Embedder
import graft.index.PostingCodec
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.SparkSession

/** Spark-free timers of the single-threaded kernels under the build and
  * the search: tokenizer, fused term-frequency embedder, posting codec.
  * Each is warmed before it is timed.
  */
object Kernels {
  private val WarmSeconds = 0.3
  private val TimedSeconds = 0.6

  /** Repeats `pass` (which returns the units it processed) for a while and
    * returns units per second of the timed part.
    */
  private def rate(pass: () => Long): Double = {
    def run(seconds: Double): (Long, Double) = {
      val t0 = System.nanoTime()
      var units = 0L
      while ((System.nanoTime() - t0) / 1e9 < seconds) units += pass()
      (units, (System.nanoTime() - t0) / 1e9)
    }
    run(WarmSeconds)
    val (units, s) = run(TimedSeconds)
    units / s
  }

  final case class Block(cnt: Int, docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte])

  def measure(texts: Seq[String], spark: SparkSession, indexDir: String,
              outcome: Outcome): Map[String, Double] = {
    val tok = Bm25Tokenizer.default
    val emb = Embedder(tok)
    val arr = texts.toArray
    var sink = 0L
    val tokenize = rate { () => arr.foreach(t => sink += tok.tokenize(t).length); arr.length.toLong }
    val termFreqs = rate { () => arr.foreach(t => sink += emb.termFrequencies(t)._3); arr.length.toLong }

    import spark.implicits._
    val blocks = spark.read.parquet(s"$indexDir/postings")
      .select($"cnt", $"docs", $"tfs", $"dls").limit(2000)
      .as[(Int, Array[Byte], Array[Byte], Array[Byte])].collect()
      .map { case (c, d, t, l) => Block(c, d, t, l) }
    val decoded = blocks.map { b =>
      (PostingCodec.decodeDeltas(b.docs, b.cnt), PostingCodec.decodeInts(b.tfs, b.cnt),
        PostingCodec.decodeInts(b.dls, b.cnt))
    }
    val postings = blocks.iterator.map(_.cnt.toLong).sum
    outcome.check(blocks.nonEmpty && blocks.indices.forall { i =>
      val (d, t, l) = decoded(i)
      java.util.Arrays.equals(PostingCodec.encodeDeltas(d), blocks(i).docs) &&
        java.util.Arrays.equals(PostingCodec.encodeInts(t), blocks(i).tfs) &&
        java.util.Arrays.equals(PostingCodec.encodeInts(l), blocks(i).dls)
    }, s"posting blocks of $indexDir do not re-encode to their stored bytes")
    val decode = rate { () =>
      blocks.foreach { b =>
        sink += PostingCodec.decodeDeltas(b.docs, b.cnt).length +
          PostingCodec.decodeInts(b.tfs, b.cnt).length + PostingCodec.decodeInts(b.dls, b.cnt).length
      }
      postings
    }
    val encode = rate { () =>
      decoded.foreach { case (d, t, l) =>
        sink += PostingCodec.encodeDeltas(d).length + PostingCodec.encodeInts(t).length +
          PostingCodec.encodeInts(l).length
      }
      postings
    }
    if (sink == Long.MinValue) println(sink)
    Map(
      "text.tokenize_docs_per_s" -> tokenize,
      "bm25.term_freqs_docs_per_s" -> termFreqs,
      "codec.encode_postings_per_s" -> encode,
      "codec.decode_postings_per_s" -> decode)
  }
}
