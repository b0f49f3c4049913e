package graft.index

import graft.bm25.{Bm25Params, Embedder, TokenHasher}
import graft.text.TextTokenizer
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed multi-way posting merge (north_rule): folds pending deltas
  * into a base index WITHOUT re-tokenizing the base corpus —
  *
  *   - base posting blocks are decoded columnar-ly (one UDF call per block,
  *     then a Catalyst explode — never per-posting JVM objects on the scan
  *     side), superseded doc versions dropped via a broadcast anti-join
  *     (never an `isin` literal list — a large tombstone set would blow up
  *     the plan);
  *   - delta documents (the only text in the job) are tokenized and exploded
  *     in executors;
  *   - both streams feed the builder's (shard, term)-partitioned sort-merge
  *     exchange and block encoder, producing fresh range-partitioned shards.
  *
  * Shard bounds, blockSize, termBuckets, tokenizer, hasher and the FROZEN
  * avgdl all derive from the base manifest (compaction is physical: scores
  * must not move, and the written layout must match what the manifest
  * declares — asserted in SearchEngineSpec / CompactorSpec).
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
    val base = IndexManifest.read(baseDir)
    // Physical layout parameters MUST come from the base manifest — the new
    // manifest is base.copy(...), and bucketOf/shardOf prune against these.
    val eff = cfg.copy(numShards = base.numShards, blockSize = base.blockSize,
      termBuckets = base.termBuckets)
    val hasher = TokenHasher.fromName(base.hasher).getOrElse(TokenHasher.default)
    val bounds = base.shardBounds
    def shardOf(docId: Long): Int = {
      var lo = 0
      var hi = bounds.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (docId < bounds(mid)) hi = mid else lo = mid + 1 }
      lo
    }

    // every base doc id that must NOT survive: explicit tombstones/updates
    // plus every delta doc id (upsert replaces silently)
    val drop = superseded.select($"doc_id".cast("long").as("doc_id"))
      .union(deltaDocs.select($"doc_id")).distinct()

    // --- forward: base \ drop ∪ tokenized deltas ---------------------------
    val emb = new Embedder(Bm25Params(), tokenizer, hasher)
    val deltaFwd = deltaDocs.mapPartitions { it =>
      it.map { d =>
        val (terms, tfs, dl) = emb.termFrequencies(d.content)
        ForwardRow(d.doc_id, shardOf(d.doc_id), dl, terms, tfs)
      }
    }
    val baseFwd = spark.read.parquet(s"$baseDir/forward").as[ForwardRow]
    val keptFwd = baseFwd.join(broadcast(drop), Seq("doc_id"), "left_anti").as[ForwardRow]
    keptFwd.union(deltaFwd).write.mode(SaveMode.Overwrite).parquet(s"$outDir/forward")

    val statRow = spark.read.parquet(s"$outDir/forward")
      .agg(count(lit(1)), coalesce(sum($"dl"), lit(0L))).head()
    val (nDocs, sumDl) = (statRow.getLong(0), statRow.getLong(1))

    // --- postings: decoded base blocks ∪ delta postings → sort-merge ------
    val decDocs = udf((b: Array[Byte], n: Int) => PostingCodec.decodeDeltas(b, n))
    val decInts = udf((b: Array[Byte], n: Int) => PostingCodec.decodeInts(b, n))
    val baseRows = spark.read.parquet(s"$baseDir/postings")
      .select($"shard", $"term",
        decDocs($"docs", $"cnt").as("d"), decInts($"tfs", $"cnt").as("t"), decInts($"dls", $"cnt").as("l"))
      .select($"shard", $"term", explode(arrays_zip($"d", $"t", $"l")).as("p"))
      .select($"shard", $"term", $"p.d".as("doc_id"), $"p.t".as("tf"), $"p.l".as("dl"))
    val baseKept = baseRows.join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select($"shard", $"term", $"doc_id", $"tf", $"dl")
    val deltaRows = deltaFwd.toDF()
      .select($"shard", $"doc_id", $"dl", explode(arrays_zip($"terms", $"tfs")).as("te"))
      .select($"shard", $"te.terms".as("term"), $"doc_id", $"te.tfs".as("tf"), $"dl")
    val (nBlocks, bytes, postings) = IndexBuilder.encodePostingRows(spark,
      baseKept.unionByName(deltaRows), s"$outDir/postings/group=0", eff, eff.numShards)

    // --- termstats + manifest ---------------------------------------------
    IndexBuilder.buildTermstats(spark, s"$outDir/postings", s"$outDir/termstats", eff)
    val seconds = (System.nanoTime() - t0) / 1e9
    val metrics = IndexBuilder.computeMetrics(spark, s"$outDir/termstats",
      nDocs, seconds, nBlocks, bytes, postings)
    val manifest = base.copy(
      nDocs = nDocs,
      sumDl = sumDl,
      // avgdl intentionally unchanged (frozen at fit, reference semantics)
      lineage = base.lineage ++ Map(
        "compactedFrom" -> baseDir,
        "deltaDocs" -> deltaDocs.count().toString),
      metrics = metrics
    )
    manifest.write(outDir)
    Checkpoints.commit(outDir, "bounds",
      Map("bounds" -> bounds.mkString(","), "numShards" -> base.numShards))
    manifest
  }
}
