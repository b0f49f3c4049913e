package graft.bm25

/** The BM25 arithmetic, exactly as the reference computes it. */
object Bm25Math {

  /** The IDF of the `bm25` crate (`src/scorer.rs:99-107`): f32 arithmetic
    * throughout, `df` = number of documents containing the term (NOT
    * occurrences — the v2.3.0 regression fix, `scorer.rs:218-234`), `n` =
    * total documents. Always > 0. Pinned vectors: idf(2,1)=0.6931472 (=ln 2),
    * idf(2,2)=0.1823216.
    */
  def idf(nDocs: Long, df: Long): Float = {
    val tf = df.toFloat
    val numerator = nDocs.toFloat - tf + 0.5f
    val denominator = tf + 0.5f
    math.log((1.0f + (numerator / denominator)).toDouble).toFloat
  }

  /** A document's score (`scorer.rs:109-123`): idf·weight summed in f32 over
    * the query's term occurrences, in occurrence order, so a term repeated m
    * times adds m times. `weights` holds the document's term weights; a term
    * it lacks reads as 0 and adds nothing.
    */
  def score(qOcc: Array[Long], weights: java.util.Map[Long, Float], idf: Long => Float): Float = {
    var score = 0.0f
    var i = 0
    while (i < qOcc.length) {
      val v = weights.get(qOcc(i))
      if (v != 0.0f) score += idf(qOcc(i)) * v
      i += 1
    }
    score
  }
}
