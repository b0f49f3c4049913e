package graft.index

import graft.bm25.Embedder
import graft.text.{Bm25Tokenizer, TextTokenizer}
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A corpus document keyed by a Long surrogate id (see `graft.api` for the
  * (repo, path, commit) / string-key adapters).
  */
final case class CorpusDoc(doc_id: Long, content: String)

/** Forward-index row: one document's distinct terms + integer term
  * frequencies + token count. This is the durable form of the reference's
  * `Scorer.embeddings` map (`/root/reference/src/scorer.rs:21-24`) — storing
  * (tf, dl) instead of the f32 weight keeps the index exact, parameter-free
  * (any k1/b/avgdl can be applied at query time with bit-identical results,
  * since the weight function is reconstructed in f32 from the same integers).
  */
final case class ForwardRow(doc_id: Long, shard: Int, dl: Int, terms: Array[Long], tfs: Array[Int])

/** One compressed posting block: ≤ blockSize (doc_id, tf, dl) triples for a
  * single term within one doc-range shard, delta+varbyte encoded, with
  * block-max metadata (max_tf, min_dl ⇒ a safe upper bound on the BM25
  * weight for any parameters — weight is monotone ↑tf, ↓dl).
  */
final case class PostingBlock(shard: Int, term: Long, block: Int, cnt: Int,
                              max_tf: Int, min_dl: Int,
                              min_doc: Long, max_doc: Long,
                              docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte])

final case class IndexBuildConfig(
    numShards: Int = 8,
    blockSize: Int = 128,
    termBuckets: Int = 64,
    shardGroups: Int = 4, // checkpoint granularity for the postings stage
    postingTasks: Int = 0, // shuffle tasks for the postings stage (0 = 3x parallelism)
    // escape valve for pathologically hot terms: split each (shard,
    // term-prefix) merge group into 2^k doc-range slices so no reduce task
    // ever has to hold one term's whole encoded posting list (~10 B × df).
    // Blocks stay doc-disjoint per (shard, term); readers order by min_doc.
    buildRangeBits: Int = 0,
    // doc ids that are hash surrogates are uniform in [0, Long.MaxValue]:
    // range bounds are then analytic (no quantile job over the corpus)
    uniformIdSpace: Boolean = false
)

/** Distributed index build (SURVEY §7.4, north_star pipeline):
  *
  *   stage 1 `forward`    docs → tokenize+hash+tf (one narrow pass, no
  *                        shuffle) → forward index partitioned by doc-range
  *                        shard (range bounds from quantiles, recorded in the
  *                        checkpoint lineage).
  *   stage 2 `stats`      Σdl / N / avgdl — exact integer aggregate
  *                        (`embedder.rs:213-237` semantics).
  *   stage 3 `postings_*` per shard group: explode → shuffle by shard →
  *                        sort (shard, term, doc_id) → streaming block
  *                        encoder (delta+varbyte+block-max) → parquet
  *                        partitioned by shard. No giant per-term groupBy:
  *                        the sort-based encoder bounds memory regardless of
  *                        term skew.
  *   stage 4 `termstats`  df(term) via salted two-phase aggregation
  *                        (explicit skew handling for hot terms) →
  *                        parquet partitioned by term bucket.
  *
  * Everything after tokenization derives from the forward rows alone, so
  * the compactor runs the same stages on a merged forward table
  * (`fromForward`).
  * Every stage commits a checkpoint marker with lineage + metrics; a
  * restarted build skips committed stages/groups (kill/resume test in
  * IndexResumeSpec).
  */
object IndexBuilder {

  /** Fan-out of the salted first phase of the df aggregation. */
  private val SaltBuckets = 16

  def tokenizerConfig(t: TextTokenizer): TokenizerConfig = t match {
    case b: Bm25Tokenizer => TokenizerConfig(b.language.name, b.normalization, b.stopwords, b.stemming)
    case _                => TokenizerConfig("custom", normalization = false, stopwords = false, stemming = false)
  }

  /** @param avgdlOverride a pre-fit avgdl. The reference fits avgdl over the
    *   corpus *as given* — including documents later replaced by id-duplicate
    *   upserts (`search.rs:176-193` fits before the upsert loop at
    *   `search.rs:244-254`) — so a caller deduplicating docs must fit first
    *   and pass the value through.
    */
  def build(spark: SparkSession, docs: Dataset[CorpusDoc], tokenizer: TextTokenizer,
            indexDir: String, cfg: IndexBuildConfig = IndexBuildConfig(),
            lineage: Map[String, String] = Map.empty,
            avgdlOverride: Option[Float] = None,
            hasher: graft.bm25.TokenHasher = graft.bm25.TokenHasher.default): IndexManifest = {
    import spark.implicits._
    val t0 = System.nanoTime()

    if (IndexManifest.exists(indexDir)) return IndexManifest.read(indexDir)

    // --- shard bounds (range partitioning of the doc-id space) ------------
    val bounds: Array[Long] = Checkpoints.read(indexDir, "bounds") match {
      case Some(n) =>
        val b = n.get("bounds").asText()
        if (b.isEmpty) Array.empty[Long] else b.split(",").map(_.toLong)
      case None =>
        if (cfg.numShards <= 1) Array.empty[Long]
        else if (cfg.uniformIdSpace)
          Array.tabulate(cfg.numShards - 1)(i => (Long.MaxValue / cfg.numShards) * (i + 1))
        else docs.toDF().stat
          .approxQuantile("doc_id", (1 until cfg.numShards).map(_.toDouble / cfg.numShards).toArray, 0.001)
          .map(_.toLong)
    }

    // --- stage 1 input: tokenize+hash+tf, one narrow pass ------------------
    val emb = new Embedder(graft.bm25.Bm25Params(), tokenizer, hasher) // tf/dl only; params unused
    val fwd = docs.mapPartitions { it =>
      it.map { d =>
        val (terms, tfs, dl) = emb.termFrequencies(d.content)
        ForwardRow(d.doc_id, IndexManifest.shardOf(bounds, d.doc_id), dl, terms, tfs)
      }
    }
    fromForward(spark, fwd, indexDir, cfg, bounds, tokenizerConfig(tokenizer), hasher.name,
      avgdlOverride, lineage ++ Map("builder" -> "graft.index.IndexBuilder"), t0)
  }

  /** Stages 1-4 plus the manifest, from forward rows already keyed by shard
    * under `bounds`. The batch build feeds it the tokenized corpus; the
    * compactor feeds it the merged forward table with the base's layout, so
    * posting blocks are written from forward rows by this one path.
    *
    * @param avgdl the avgdl to record; `None` derives it from the stats
    * @param t0 `System.nanoTime()` at the start of the caller's build
    */
  private[index] def fromForward(spark: SparkSession, forward: Dataset[ForwardRow],
                                 indexDir: String, cfg: IndexBuildConfig, bounds: Array[Long],
                                 tokenizer: TokenizerConfig, hasher: String,
                                 avgdl: Option[Float], lineage: Map[String, String],
                                 t0: Long): IndexManifest = {
    import spark.implicits._
    val fwdPath = s"$indexDir/forward"
    val postingsPath = s"$indexDir/postings"

    if (!Checkpoints.isDone(indexDir, "bounds"))
      Checkpoints.commit(indexDir, "bounds",
        Map("bounds" -> bounds.mkString(","), "numShards" -> cfg.numShards))

    // --- stage 1: forward index ------------------------------------------
    if (!Checkpoints.isDone(indexDir, "forward")) {
      val t = System.nanoTime()
      // Written in input partitioning: the forward build is a pure narrow
      // map (tokenize+hash+tf), NO shuffle — the postings stage re-shuffles
      // by shard anyway, and shard/doc_id remain ordinary columns for
      // stats-based pruning. (An earlier repartition+partitionBy layout
      // serialized this stage on shuffle + small-file IO.)
      forward.write.mode(SaveMode.Overwrite).parquet(fwdPath)
      // row count is recorded by the stats stage (single agg over the output)
      Checkpoints.commit(indexDir, "forward", Map(
        "seconds" -> (System.nanoTime() - t) / 1e9))
    }

    // --- stage 2: corpus stats (N, Σdl, avgdl) ----------------------------
    // Launched as a CONCURRENT job: it only reads the committed forward
    // output, so it overlaps with the postings stage instead of serializing
    // the build (its result is not needed until the manifest is written).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val statsF: Future[(Long, Long)] = Checkpoints.read(indexDir, "stats") match {
      case Some(n) => Future.successful((n.get("nDocs").asLong(), n.get("sumDl").asLong()))
      case None => Future {
        val row = IndexTables.forward(spark, indexDir).agg(count(lit(1)), coalesce(sum($"dl"), lit(0L))).head()
        val (n, s) = (row.getLong(0), row.getLong(1))
        Checkpoints.commit(indexDir, "stats", Map("nDocs" -> n, "sumDl" -> s))
        (n, s)
      }
    }

    // --- stage 3: posting blocks per shard group --------------------------
    val groups = math.max(1, math.min(cfg.shardGroups, cfg.numShards))
    var encBlocks = 0L; var encBytes = 0L; var encPostings = 0L
    for (g <- 0 until groups) {
      val name = s"postings_g$g"
      // each group owns its subdirectory (hive-style `group=N`, so readers
      // of the root discover it as a partition column): group overwrite is
      // a plain directory replace, and each task writes exactly one file
      val groupPath = s"$postingsPath/group=$g"
      val (b, by, p) = Checkpoints.read(indexDir, name) match {
        case Some(n) if n.has("blocks") =>
          (n.get("blocks").asLong(), n.get("bytes").asLong(), n.get("postings").asLong())
        // checkpoint predates the metrics keys: recompute from the durable
        // group output instead of silently reporting 0
        case Some(_) => blockMetrics(spark, indexDir, g)
        case None =>
          val t = System.nanoTime()
          val shardsInGroup = (0 until cfg.numShards).filter(_ % groups == g)
          // Columnar end-to-end: explode via Catalyst's generate (whole-stage
          // codegen, no per-posting JVM objects), shuffle+sort on UnsafeRows,
          // and encode straight off InternalRow — an earlier typed-Dataset
          // version allocated a Tuple5 per posting on both shuffle sides
          // (287M objects at the 1M-doc bench) and was GC-bound.
          val exploded = IndexTables.forward(spark, indexDir)
            .where($"shard".isin(shardsInGroup: _*))
            .select($"shard", $"doc_id", $"dl", explode(arrays_zip($"terms", $"tfs")).as("te"))
            .select($"shard", $"te.terms".as("term"), $"doc_id", $"te.tfs".as("tf"), $"dl")
          // Partition by (shard, term): a term's postings within a shard stay
          // in one task (whole blocks), while the task count scales with the
          // cluster instead of the shard count — numShards stops being a
          // parallelism ceiling.
          encodePostingRows(spark, exploded, groupPath, cfg, math.max(shardsInGroup.size, 1))
          val m = blockMetrics(spark, indexDir, g)
          Checkpoints.commit(indexDir, name, Map(
            "shards" -> shardsInGroup.mkString(","),
            "blocks" -> m._1, "bytes" -> m._2, "postings" -> m._3,
            "seconds" -> (System.nanoTime() - t) / 1e9))
          m
      }
      encBlocks += b; encBytes += by; encPostings += p
    }

    // --- stage 4: term stats (df) via salted two-phase aggregation --------
    if (!Checkpoints.isDone(indexDir, "termstats")) {
      val t = System.nanoTime()
      buildTermstats(spark, indexDir, cfg)
      Checkpoints.commit(indexDir, "termstats",
        Map("seconds" -> (System.nanoTime() - t) / 1e9))
    }

    // --- finalize: metrics + manifest -------------------------------------
    import scala.concurrent.duration.Duration
    val (nDocs, sumDl) = Await.result(statsF, Duration.Inf)
    val seconds = (System.nanoTime() - t0) / 1e9
    val manifest = IndexManifest(
      version = IndexManifest.CurrentVersion,
      numShards = cfg.numShards,
      blockSize = cfg.blockSize,
      termBuckets = cfg.termBuckets,
      tokenizer = tokenizer,
      hasher = hasher,
      nDocs = nDocs,
      sumDl = sumDl,
      avgdl = avgdl.getOrElse(
        if (nDocs == 0L) Embedder.FallbackAvgdl
        else (sumDl.toDouble / nDocs.toDouble).toFloat),
      shardBounds = bounds,
      lineage = lineage,
      metrics = computeMetrics(spark, indexDir, nDocs, seconds,
        encBlocks, encBytes, encPostings)
    )
    manifest.write(indexDir)
    manifest
  }

  /** Distributed multi-way posting merge (north_rule): map tasks locally
    * sort bounded posting buffers and emit delta+varbyte run CHUNKS
    * (~10 B/posting) keyed by (shard, term-prefix) group; the exchange
    * carries 3× less data than raw posting rows and the reduce side k-way
    * merges the sorted chunks straight into blocks — no external sort at
    * all. See PostingRuns for the chunk format and determinism argument.
    */
  private def encodePostingRows(spark: SparkSession, rows: org.apache.spark.sql.DataFrame,
                                outPath: String, cfg: IndexBuildConfig,
                                minTasks: Int): Unit = {
    import spark.implicits._
    val numPostingTasks =
      if (cfg.postingTasks > 0) cfg.postingTasks
      else math.max(spark.sparkContext.defaultParallelism * 3, minTasks)
    // (shard, term-prefix) groups: fine enough that task count scales with
    // the cluster (not capped by numShards), coarse enough that map-side
    // chunks stay densely packed
    val bucketsPerShard = Integer.highestOneBit(
      math.max(1, numPostingTasks * 2 / math.max(cfg.numShards, 1)))
    val prefixBits = Integer.numberOfTrailingZeros(bucketsPerShard)
    // optional doc-range slicing (see IndexBuildConfig.buildRangeBits): a
    // group key gains the doc id's top bits, so one term's postings can
    // spread over 2^k merge tasks; each slice emits its own doc-disjoint
    // blocks and readers order blocks by min_doc, not block index
    val rangeBits = math.max(0, math.min(cfg.buildRangeBits, 20))
    // shard and term travel as SEPARATE fields: the 64-bit term hash (fx64 /
    // custom hashers) round-trips exactly — never packed into a shared long
    val packed = rows.select(
      $"shard".cast("int").as("shard"),
      $"term".cast("long").as("term"),
      $"doc_id".cast("long").as("doc_id"),
      $"tf".cast("int"), $"dl".cast("int"))

    // map side: buffer → local sort → encoded chunks
    val chunkRdd = packed.queryExecution.toRdd.mapPartitions { it =>
      val buf = new PostingRuns.RunBuffer(1 << 19, bucketsPerShard, prefixBits, rangeBits)
      new Iterator[(Int, Array[Byte])] {
        private var pending: Iterator[(Int, Array[Byte])] = Iterator.empty
        @annotation.tailrec
        private def refill(): Unit =
          if (!pending.hasNext) {
            if (it.hasNext) {
              while (it.hasNext && !buf.isFull) {
                val r = it.next()
                buf.add(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
              }
              pending = buf.flush()
              refill()
            } else if (buf.nonEmpty) pending = buf.flush()
          }
        def hasNext: Boolean = { refill(); pending.hasNext }
        def next(): (Int, Array[Byte]) = { refill(); pending.next() }
      }
    }
    val shuffled = spark.createDataset(chunkRdd).toDF("pkey", "chunk")
      .repartition(numPostingTasks, $"pkey")

    val blockSize = cfg.blockSize
    // reduce side: k-way merge of chunk cursors → streaming block encoder
    val blockRdd = shuffled.queryExecution.toRdd.mapPartitions { it =>
      val pq = new java.util.PriorityQueue[PostingRuns.RunCursor](64,
        (a: PostingRuns.RunCursor, b: PostingRuns.RunCursor) =>
          PostingRuns.compareCursors(a, b))
      it.foreach { r =>
        val c = new PostingRuns.RunCursor(r.getBinary(1), prefixBits)
        if (c.advance()) pq.add(c)
      }
      mergeToBlocks(pq, blockSize)
    }
    spark.createDataset(blockRdd)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** (blocks, encoded bytes, postings) of postings group `g`'s written
    * blocks. Read from the parquet, not accumulators: task retries /
    * speculative attempts cannot double-count, and a resumed build can
    * always recompute them from the durable output.
    */
  private def blockMetrics(spark: SparkSession, indexDir: String, g: Int): (Long, Long, Long) = {
    import spark.implicits._
    val m = IndexTables.postings(spark, indexDir).where($"group" === g)
      .agg(count(lit(1)),
        coalesce(sum(length($"docs") + length($"tfs") + length($"dls")), lit(0L)),
        coalesce(sum($"cnt".cast("long")), lit(0L))).head()
    (m.getLong(0), m.getLong(1), m.getLong(2))
  }

  /** Streaming block builder over the cursor heap: pops (shard, term, doc)-
    * ordered postings, groups runs of one (shard, term), emits ≤blockSize
    * blocks. The term keeps its full 64 bits.
    */
  private def mergeToBlocks(pq: java.util.PriorityQueue[PostingRuns.RunCursor],
                            blockSize: Int): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private var curShard = -1
      private var curTerm = 0L
      private var haveCur = false
      private var blockNo = 0

      def hasNext: Boolean = !pq.isEmpty

      def next(): PostingBlock = {
        val shard = pq.peek().shard
        val term = pq.peek().term
        if (!haveCur || shard != curShard || term != curTerm) {
          curShard = shard; curTerm = term; haveCur = true; blockNo = 0
        }
        val docs = new Array[Long](blockSize)
        val tfs = new Array[Int](blockSize)
        val dls = new Array[Int](blockSize)
        var n = 0
        var maxTf = 0
        var minDl = Int.MaxValue
        while (n < blockSize && !pq.isEmpty &&
               pq.peek().shard == shard && pq.peek().term == term) {
          val c = pq.poll()
          docs(n) = c.doc; tfs(n) = c.tf; dls(n) = c.dl
          if (c.tf > maxTf) maxTf = c.tf
          if (c.dl < minDl) minDl = c.dl
          n += 1
          if (c.advance()) pq.add(c)
        }
        val b = PostingBlock(shard, term, blockNo, n,
          maxTf, minDl,
          if (n > 0) docs(0) else 0L, if (n > 0) docs(n - 1) else 0L,
          PostingCodec.encodeDeltas(java.util.Arrays.copyOf(docs, n)),
          PostingCodec.encodeInts(java.util.Arrays.copyOf(tfs, n)),
          PostingCodec.encodeInts(java.util.Arrays.copyOf(dls, n)))
        blockNo += 1
        b
      }
    }

  /** df(term) via salted two-phase aggregation over the encoded blocks,
    * written bucket-partitioned for query-time pruning.
    */
  private def buildTermstats(spark: SparkSession, indexDir: String, cfg: IndexBuildConfig): Unit = {
    import spark.implicits._
    val blocksDf = IndexTables.postings(spark, indexDir)
    // salt on block id: partial sums per (term, salt), then final merge —
    // bounds any single reducer's load for pathologically hot terms.
    val partial = blocksDf
      .groupBy($"term", pmod($"block", lit(SaltBuckets)).as("salt"))
      .agg(sum($"cnt").as("c"))
    val df = partial.groupBy($"term").agg(sum($"c").as("df"))
      .withColumn("bucket", pmod($"term", lit(cfg.termBuckets)).cast("int"))
    df.repartition(cfg.termBuckets, $"bucket")
      .sortWithinPartitions($"bucket", $"term")
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/termstats")
  }

  /** Index-wide metrics: block stats come from the postings stage (no
    * end-of-build postings rescan); only the small termstats table is
    * aggregated here.
    */
  private def computeMetrics(spark: SparkSession, indexDir: String,
                             nDocs: Long, seconds: Double,
                             nBlocks: Long, bytes: Long,
                             postings: Long): Map[String, Double] = {
    import spark.implicits._
    val stats = IndexTables.termstats(spark, indexDir).agg(
      count(lit(1)), coalesce(max($"df"), lit(0L)), coalesce(avg($"df"), lit(0.0))).head()
    val (vocab, maxDf, meanDf) = (stats.getLong(0), stats.getLong(1), stats.getDouble(2))
    Map(
      "buildSeconds" -> seconds,
      "docsPerSecond" -> (if (seconds > 0) nDocs / seconds else 0.0),
      "postings" -> postings.toDouble,
      "postingsPerSecond" -> (if (seconds > 0) postings / seconds else 0.0),
      "blocks" -> nBlocks.toDouble,
      "compressedBytes" -> bytes.toDouble,
      "bytesPerPosting" -> (if (postings > 0) bytes.toDouble / postings else 0.0),
      "vocabulary" -> vocab.toDouble,
      "maxDf" -> maxDf.toDouble,
      "dfSkewRatio" -> (if (meanDf > 0) maxDf / meanDf else 0.0)
    )
  }

}
