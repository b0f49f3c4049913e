package graft.api

import graft.SparkTestBase
import graft.bm25.Embedder
import graft.text.{Bm25Tokenizer, FxHash, Language}
import scala.util.Random

/** Distributed-vs-local-oracle equivalence (SURVEY §5): a ~40-line local
  * scorer implementing exactly the reference semantics
  * (`/root/reference/src/scorer.rs:45-123`: disjunctive candidates, df = doc
  * count, f32 fold in query-occurrence order, upsert-replacement) is run
  * against seeded random corpora and compared bit-for-bit with the
  * distributed engine.
  */
class LocalOracleSpec extends SparkTestBase {

  /** Local oracle: the reference's Scorer over embeddings, minus hash-map
    * nondeterminism (we sort results like the snapshots do).
    */
  private class LocalOracle(tok: Bm25Tokenizer, avgdl: Float) {
    private val emb = Embedder(tok, avgdl = avgdl)
    private val docs = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def upsert(id: String, contents: String): Unit = docs(id) = contents
    def remove(id: String): Unit = docs.remove(id)

    def search(query: String): Seq[(String, Float)] = {
      val q = emb.embed(query).entries.map(_.index) // occurrence order
      if (q.isEmpty) return Seq.empty
      val embeddings = docs.toSeq.map { case (id, c) => id -> emb.embed(c).entries }
      val n = embeddings.length
      def df(t: Long): Long = embeddings.count(_._2.exists(_.index == t)).toLong
      val dfs = q.distinct.map(t => t -> df(t)).toMap
      def idf(t: Long): Float = graft.bm25.Bm25Math.idf(n, dfs(t))
      val candidates = embeddings.filter { case (_, e) => q.exists(t => e.exists(_.index == t)) }
      candidates.map { case (id, e) =>
        var s = 0.0f
        q.foreach { t =>
          val v = e.find(_.index == t).map(_.value).getOrElse(0.0f)
          s += idf(t) * v
        }
        id -> s
      }.sortBy { case (id, s) => (-s, id) }
    }
  }

  test("engine ≡ local oracle on seeded random corpora (scores bit-exact)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "merge", "join", "sort", "filter", "running", "connection", "tables",
      "apples", "bananas", "stations", "420", "3.14")
    val rnd = new Random(20260816L)
    (0 until 3).foreach { round =>
      val nDocs = 12 + rnd.nextInt(20)
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rnd.nextInt(25)
        Doc(s"d$i", Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val tok = Bm25Tokenizer(Language.English)
      val avgdl = Embedder.fitAvgdlLocal(docs.map(_.contents), tok)
      val eng = SearchEngine.withDocuments(spark, tmpDir(s"oracle$round"), docs)
      val oracle = new LocalOracle(tok, avgdl)
      docs.foreach(d => oracle.upsert(d.id, d.contents))

      val queries = Seq("merge join", "alpha alpha beta", "connection tables",
        "running sort filter zeta", "missingword", "3.14 420")
      queries.foreach { q =>
        val got = eng.search(q, None).map(r => r.id -> r.score)
        val exp = oracle.search(q)
        // ties break on the engine's surrogate id vs the oracle's string id
        // (the reference's own tie order is HashSet-nondeterministic), so
        // compare the doc set + per-doc f32 bits + monotone score order.
        assert(got.map(_._1).sorted === exp.map(_._1).sorted, s"round $round q='$q' ids")
        val expMap = exp.toMap
        got.foreach { case (gi, gs) =>
          assert(java.lang.Float.floatToRawIntBits(gs) === java.lang.Float.floatToRawIntBits(expMap(gi)),
            s"round $round q='$q' doc $gi: got $gs exp ${expMap(gi)}")
        }
        assert(got.sliding(2).forall(p => p.length < 2 || p(0)._2 >= p(1)._2), s"round $round q='$q' order")
      }

      // mutate: remove one doc, update another, add one — still equivalent
      val victim = docs(rnd.nextInt(docs.size)).id
      val updated = docs(rnd.nextInt(docs.size)).id
      eng.remove(victim); oracle.remove(victim)
      val newContents = "zeta merge stations apples"
      if (updated != victim) { eng.upsert(Doc(updated, newContents)); oracle.upsert(updated, newContents) }
      eng.upsert(Doc("extra", "gamma gamma delta")); oracle.upsert("extra", "gamma gamma delta")

      queries.take(3).foreach { q =>
        val got = eng.search(q, None).map(r => r.id -> r.score)
        val exp = oracle.search(q)
        assert(got.map(_._1).sorted === exp.map(_._1).sorted, s"round $round post-mutation q='$q' ids")
        val expMap = exp.toMap
        got.foreach { case (gi, gs) =>
          assert(java.lang.Float.floatToRawIntBits(gs) === java.lang.Float.floatToRawIntBits(expMap(gi)),
            s"round $round post-mutation q='$q' doc $gi")
        }
        // limited searches (WAND over the live view) ≡ the engine's own
        // unlimited first k, and carry the oracle's score bits
        def bits(rs: Seq[(String, Float)]) = rs.map { case (i, x) => (i, java.lang.Float.floatToRawIntBits(x)) }
        for (k <- Seq(1, 3)) {
          val lim = eng.search(q, Some(k)).map(r => r.id -> r.score)
          assert(bits(lim) === bits(got.take(k)), s"round $round post-mutation q='$q' top-$k")
          assert(bits(lim) === bits(lim.map { case (i, _) => i -> expMap(i) }),
            s"round $round post-mutation q='$q' top-$k vs oracle")
        }
      }
    }
  }

  test("query occurrence multiplicity accumulates in f32 order (x+x != 2x path)") {
    // A doubled query token must add its idf·value twice sequentially —
    // scorer.rs:109-123 semantics.
    val eng = SearchEngine.withAvgdl(spark, tmpDir("mult"), 1.0f)
    eng.upsert(Seq(Doc("0", "apple"), Doc("1", "banana")))
    val single = eng.search("apple", None).head.score
    val doubled = eng.search("apple apple", None).head.score
    assert(java.lang.Float.floatToRawIntBits(doubled) ===
      java.lang.Float.floatToRawIntBits(single + single))
    val _ = FxHash.hash32u("apple")
  }
}
