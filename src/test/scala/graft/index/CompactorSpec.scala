package graft.index

import graft.SparkTestBase
import graft.bm25.{FnHasher, Fx64Hasher, TokenHasher}
import graft.text.{Bm25Tokenizer, TextTokenizer}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.hex

/** The compactor must produce an index equal to a from-scratch build over
  * the post-mutation corpus (same bounds, same frozen avgdl) — encoded
  * blocks byte for byte, posting multisets, termstats and search results
  * all identical.
  */
class CompactorSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = IndexBuildConfig(numShards = 4, shardGroups = 1)

  private lazy val corpus: Dataset[CorpusDoc] = {
    val baseDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text as content").as[CorpusDoc]
    baseDocs
  }

  /** `docs` with `superseded` ids removed and `deltas` upserted. */
  private def applyDeltas(docs: Dataset[CorpusDoc], superseded: Array[Long],
                          deltas: Dataset[CorpusDoc]): Dataset[CorpusDoc] =
    docs.filter(d => !superseded.contains(d.doc_id)).union(deltas)

  /** A fresh build of `docs` with the base's bounds and frozen avgdl. */
  private def freshBuild(docs: Dataset[CorpusDoc], base: IndexManifest, tok: TextTokenizer,
                         hasher: TokenHasher = TokenHasher.default): String = {
    val dir = tmpDir("cmp_fresh")
    // carry the base bounds so sharding is identical
    Checkpoints.commit(dir, "bounds", Map(
      "bounds" -> base.shardBounds.mkString(","), "numShards" -> cfg.numShards))
    IndexBuilder.build(spark, docs, tok, dir, cfg, avgdlOverride = Some(base.avgdl), hasher = hasher)
    dir
  }

  private def termstatsSig(dir: String): Seq[String] =
    spark.read.parquet(s"$dir/termstats").select($"term", $"df")
      .collect().map(_.toString).sorted.toSeq

  /** Every encoded block, byte for byte. */
  private def blocksSig(dir: String): Seq[String] =
    spark.read.parquet(s"$dir/postings")
      .select($"shard", $"term", $"block", $"cnt", $"max_tf", $"min_dl", $"min_doc", $"max_doc",
        hex($"docs"), hex($"tfs"), hex($"dls"))
      .collect().map(_.toString).sorted.toSeq

  /** Decoded (shard, term, doc, tf, dl) postings. */
  private def postingsSig(dir: String): Seq[String] =
    spark.read.parquet(s"$dir/postings")
      .select($"shard", $"term", $"cnt", $"docs", $"tfs", $"dls")
      .as[(Int, Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (s, t, c, d, tf, dl) =>
        val ds = PostingCodec.decodeDeltas(d, c)
        val tfs = PostingCodec.decodeInts(tf, c)
        val dls = PostingCodec.decodeInts(dl, c)
        Iterator.tabulate(c)(i => s"$s|$t|${ds(i)}|${tfs(i)}|${dls(i)}")
      }.collect().sorted.toSeq

  private def assertSameIndex(mergedDir: String, freshDir: String): Unit = {
    assert(blocksSig(mergedDir) === blocksSig(freshDir))
    assert(postingsSig(mergedDir) === postingsSig(freshDir))
    assert(termstatsSig(mergedDir) === termstatsSig(freshDir))
  }

  test("merge-compacted index ≡ fresh build over the live corpus") {
    val tok = Bm25Tokenizer.default
    val baseDir = tmpDir("cmp_base")
    val baseManifest = IndexBuilder.build(spark, corpus, tok, baseDir, cfg)

    // deltas: remove docs 3 and 7, update doc 5, add two new docs
    val superseded = Array(3L, 7L, 5L)
    val deltaDocs = Seq(
      CorpusDoc(5L, "spark merge sort window stream"),
      CorpusDoc(100001L, "hash join broadcast table scan"),
      CorpusDoc(100002L, "filter group agg query row")).toDS()

    val mergedDir = tmpDir("cmp_merged")
    val merged = Compactor.merge(spark, baseDir, mergedDir, deltaDocs, superseded, tok, cfg)
    assert(merged.nDocs === 500L - 3 + 3) // 2 removed, 1 replaced, 2 added
    assert(merged.avgdl === baseManifest.avgdl) // frozen
    // a merge never resumes over an earlier build in its output directory
    intercept[IllegalArgumentException](
      Compactor.merge(spark, baseDir, mergedDir, deltaDocs, superseded, tok, cfg))

    val freshDir = freshBuild(applyDeltas(corpus, superseded, deltaDocs), baseManifest, tok)
    assertSameIndex(mergedDir, freshDir)

    // search equivalence, bit-exact
    val qm = new Bm25Index(spark, mergedDir)
    val qf = new Bm25Index(spark, freshDir)
    for (q <- Seq("merge sort", "hash join table", "spark window")) {
      val a = qm.search(q, None).collect().toSeq
      val b = qf.search(q, None).collect().toSeq
      assert(a.map(_.doc_id) === b.map(_.doc_id), s"q='$q'")
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Float.floatToRawIntBits(x.score) ===
          java.lang.Float.floatToRawIntBits(y.score), s"q='$q' doc ${x.doc_id}")
      }
    }
  }

  test("a second compaction over a compacted base ≡ a fresh build") {
    val tok = Bm25Tokenizer.default
    val baseDir = tmpDir("cmp2_base")
    val baseManifest = IndexBuilder.build(spark, corpus, tok, baseDir, cfg)

    val sup1 = Array(3L, 5L)
    val delta1 = Seq(CorpusDoc(5L, "spark merge sort window stream"),
      CorpusDoc(100001L, "hash join broadcast table scan")).toDS()
    val round1 = tmpDir("cmp2_r1")
    Compactor.merge(spark, baseDir, round1, delta1, sup1, tok, cfg)

    // round 2 removes a base doc, replaces a round-1 delta and a base doc
    // that round 1 already replaced, and adds a new doc
    val sup2 = Array(11L, 5L, 100001L)
    val delta2 = Seq(CorpusDoc(5L, "window stream again"),
      CorpusDoc(100001L, "broadcast join rewritten"),
      CorpusDoc(100003L, "sort merge join on disk")).toDS()
    val round2 = tmpDir("cmp2_r2")
    val merged = Compactor.merge(spark, round1, round2, delta2, sup2, tok, cfg)
    assert(merged.nDocs === 500L - 2 + 2)
    assert(merged.avgdl === baseManifest.avgdl)
    assert(merged.shardBounds.toSeq === baseManifest.shardBounds.toSeq)
    assert(merged.lineage("compactedFrom") === round1)

    val live = applyDeltas(applyDeltas(corpus, sup1, delta1), sup2, delta2)
    assertSameIndex(round2, freshBuild(live, baseManifest, tok))
  }

  test("compacting an fx64 base keeps the base's hasher and tokenizer config") {
    val tok = Bm25Tokenizer(stopwords = false)
    val baseDir = tmpDir("cmp64_base")
    val baseManifest = IndexBuilder.build(spark, corpus, tok, baseDir, cfg, hasher = Fx64Hasher)
    assert(baseManifest.hasher === "fx64")

    val superseded = Array(7L)
    val deltaDocs = Seq(CorpusDoc(100001L, "the hash join of a broadcast table")).toDS()
    val mergedDir = tmpDir("cmp64_merged")
    val merged = Compactor.merge(spark, baseDir, mergedDir, deltaDocs, superseded, tok, cfg)
    assert(merged.hasher === "fx64")
    assert(merged.tokenizer === baseManifest.tokenizer)
    assert(merged.nDocs === 500L)

    val freshDir = freshBuild(applyDeltas(corpus, superseded, deltaDocs), baseManifest, tok, Fx64Hasher)
    assertSameIndex(mergedDir, freshDir)
    // the delta doc's terms are hashed into the 64-bit space
    val deltaTerms = spark.read.parquet(s"$mergedDir/forward")
      .where($"doc_id" === 100001L).select($"terms").as[Array[Long]].head()
    assert(deltaTerms.exists(_ > 0xFFFFFFFFL))

    // a hasher the manifest cannot name back fails instead of re-hashing
    // the deltas into another space
    val customDir = tmpDir("cmp_custom_base")
    IndexBuilder.build(spark, deltaDocs, tok, customDir, cfg,
      hasher = new FnHasher("custom", _.length.toLong))
    val ex = intercept[IllegalArgumentException](
      Compactor.merge(spark, customDir, tmpDir("cmp_custom"), deltaDocs, Array.empty[Long], tok, cfg))
    assert(ex.getMessage.contains("custom"), ex.getMessage)
  }
}
