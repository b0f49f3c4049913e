package graft.index

import graft.bm25.{Bm25Params, Embedder, TokenHasher}
import graft.text.TextTokenizer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Folds pending deltas into a base index WITHOUT re-tokenizing the base
  * corpus. Compaction is an ordinary build whose forward stage is
  *
  *   base forward ⋉̸ (superseded ∪ delta ids) ∪ tokenize(delta docs)
  *
  * — the base forward table is the source of truth, superseded doc
  * versions are dropped via a broadcast anti-join (never an `isin` literal
  * list — a large tombstone set would blow up the plan), and each delta
  * document (the only text in the job) is tokenized once, in executors.
  * Stats, posting blocks, termstats and the manifest then come from
  * `IndexBuilder.fromForward`, so a merged index is written by the same
  * code as a fresh build over the live corpus.
  *
  * Shard bounds, blockSize, termBuckets, tokenizer config, hasher and the
  * FROZEN avgdl all derive from the base manifest (compaction is physical:
  * scores must not move, and the written layout must match what the
  * manifest declares — asserted in SearchEngineSpec / CompactorSpec).
  *
  * Upsert semantics are enforced structurally: any base doc whose id appears
  * in the delta OR the superseded set is dropped before the merge, so a
  * delta doc missing from `superseded` cannot produce duplicate postings.
  */
object Compactor {

  /** Array convenience overload (tests / small callers). */
  def merge(spark: SparkSession, baseDir: String, outDir: String,
            deltaDocs: Dataset[CorpusDoc], superseded: Array[Long],
            tokenizer: TextTokenizer,
            cfg: IndexBuildConfig = IndexBuildConfig()): IndexManifest = {
    import spark.implicits._
    merge(spark, baseDir, outDir, deltaDocs,
      spark.createDataset(superseded.toSeq).toDF("doc_id"), tokenizer, cfg)
  }

  def merge(spark: SparkSession, baseDir: String, outDir: String,
            deltaDocs: Dataset[CorpusDoc], superseded: DataFrame,
            tokenizer: TextTokenizer,
            cfg: IndexBuildConfig): IndexManifest = {
    import spark.implicits._
    val t0 = System.nanoTime()
    // a leftover checkpoint would make the build resume over another merge
    require(Checkpoints.readAll(outDir).isEmpty,
      s"compaction output $outDir already holds an index build; pass an empty directory")
    val base = IndexManifest.read(baseDir)
    val hasher = TokenHasher.fromName(base.hasher).getOrElse(throw new IllegalArgumentException(
      s"base index $baseDir uses the ${base.hasher} hasher, which compaction cannot rebuild"))
    val bounds = base.shardBounds

    // every base doc id that must NOT survive: explicit tombstones/updates
    // plus every delta doc id (upsert replaces silently)
    val drop = superseded.select($"doc_id".cast("long").as("doc_id"))
      .union(deltaDocs.select($"doc_id")).distinct()
    val emb = new Embedder(Bm25Params(), tokenizer, hasher)
    val deltaFwd = deltaDocs.mapPartitions { it =>
      it.map { d =>
        val (terms, tfs, dl) = emb.termFrequencies(d.content)
        ForwardRow(d.doc_id, IndexManifest.shardOf(bounds, d.doc_id), dl, terms, tfs)
      }
    }
    val keptFwd = IndexTables.forward(spark, baseDir)
      .join(broadcast(drop), Seq("doc_id"), "left_anti").as[ForwardRow]

    // Physical layout MUST come from the base manifest: readers prune
    // against its bounds and buckets. One postings group — a compaction
    // never resumes, so finer checkpoints would buy nothing.
    val layout = cfg.copy(numShards = base.numShards, blockSize = base.blockSize,
      termBuckets = base.termBuckets, shardGroups = 1)
    IndexBuilder.fromForward(spark, keptFwd.union(deltaFwd), outDir, layout, bounds,
      base.tokenizer, base.hasher, Some(base.avgdl), // avgdl frozen at fit, reference semantics
      base.lineage ++ Map("compactedFrom" -> baseDir), t0)
  }
}
