package graft.api

import graft.{JobCount, SparkTestBase}

/** Pins the Spark jobs one `SearchEngine.search` launches on each live-view
  * path, and the jobs one `compact()` launches, so a plan change that adds a
  * job fails the build.
  */
class SearchJobsSpec extends SparkTestBase {

  private def fixture(name: String): SearchEngine = {
    import spark.implicits._
    val words = Array("merge", "join", "sort", "spark", "key", "fast", "scan",
      "row", "hash", "window")
    val docs = (0 until 300).map { i =>
      val rnd = new scala.util.Random(i)
      Doc(s"d$i", Seq.fill(5 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
    }
    val e = SearchEngine.open(spark, tmpDir(name))
    e.upsertBatch(docs.toDS())
    e.buildBase(graft.index.IndexBuildConfig(numShards = 2, shardGroups = 1, blockSize = 8))
    e
  }

  private lazy val eng: SearchEngine = fixture("jobs")

  private def jobs(limit: Option[Int]): Int = {
    eng.search("merge join", limit) // warm-up: the counted call repeats it
    val (hits, n) = JobCount(spark)(eng.search("merge join", limit))
    assert(hits.nonEmpty)
    n
  }

  test("search job counts per live-view path") {
    import spark.implicits._
    val limitedBase = jobs(Some(5))
    eng.removeBatch(Seq("d7", "d13", "d100").toDS())
    eng.upsertBatch(Seq(Doc("d5", "merge join catalyst"),
      Doc("dx", "merge fast window row"), Doc("dy", "join join sort")).toDS())
    val limitedLive = jobs(Some(5))
    val unlimitedLive = jobs(None)
    info(s"jobs: limited=$limitedBase limited-live=$limitedLive unlimited-live=$unlimitedLive")
    assert((limitedBase, limitedLive, unlimitedLive) === ((8, 14, 16)))
  }

  test("compact job count") {
    import spark.implicits._
    val e = fixture("jobs_compact")
    e.removeBatch(Seq("d7", "d13", "d100").toDS())
    e.upsertBatch(Seq(Doc("d5", "merge join catalyst"),
      Doc("dx", "merge fast window row"), Doc("dy", "join join sort")).toDS())
    val (_, n) = JobCount(spark)(e.compact())
    info(s"compact jobs: $n")
    assert(n === 33)
  }
}
