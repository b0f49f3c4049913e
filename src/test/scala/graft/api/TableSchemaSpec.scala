package graft.api

import graft.SparkTestBase
import graft.bm25.Fx64Hasher
import graft.index.{CorpusDoc, IndexBuildConfig, IndexBuilder, IndexTables}
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** The table readers declare their schemas instead of inferring them, and a
  * declared column missing on disk would read as null without an error. So
  * every table, as the writers leave it, must infer to exactly the declared
  * schema (nullability aside): a base build, a compaction, an fx64 index, a
  * bucketed log and a legacy flat log.
  */
class TableSchemaSpec extends SparkTestBase {

  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType  => ArrayType(loose(a.elementType), containsNull = true)
    case o             => o
  }

  private def assertDeclared(declared: DataFrame, path: String): Unit = {
    val onDisk = spark.read.parquet(path).schema
    assert(loose(declared.schema) === loose(onDisk), s"declared vs written schema of $path")
  }

  private def assertIndex(indexDir: String): Unit = {
    assertDeclared(IndexTables.forward(spark, indexDir), s"$indexDir/forward")
    assertDeclared(IndexTables.postings(spark, indexDir), s"$indexDir/postings")
    assertDeclared(IndexTables.termstats(spark, indexDir), s"$indexDir/termstats")
  }

  test("declared reader schemas equal the written schemas of every table") {
    import spark.implicits._
    val dir = tmpDir("schemas")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"), Doc("c", "join broadcast hash")))
    assertIndex(s"$dir/index")
    assertDeclared(eng.logTable, s"$dir/docstore")
    eng.remove("b")
    eng.upsertBatch(Seq(Doc("a", "spark shuffle join again"), Doc("e", "shuffle join window")).toDS())
    eng.compact()
    eng.upsert(Doc("f", "another shuffle"))
    assertIndex(s"$dir/index")
    assertDeclared(eng.logTable, s"$dir/docstore")

    val fx64Dir = tmpDir("schemas_fx64")
    val corpus = Seq(CorpusDoc(1L, "alpha beta"), CorpusDoc(2L, "beta gamma")).toDS()
    IndexBuilder.build(spark, corpus, Bm25Tokenizer.default, fx64Dir,
      IndexBuildConfig(numShards = 2, shardGroups = 2), hasher = Fx64Hasher)
    assertIndex(fx64Dir)

    val flatDir = tmpDir("schemas_flat")
    val sid = SearchEngine.surrogate("old doc")
    Seq(LogRow(sid, "old doc", "grilled cheese sandwich", 0L, tombstone = false))
      .toDS().coalesce(1).write.parquet(s"$flatDir/docstore")
    val flat = SearchEngine.withAvgdl(spark, flatDir, 4.0f)
    flat.upsert(Doc("new doc", "bacon avocado sandwich"))
    assertDeclared(flat.logTable, s"$flatDir/docstore")
  }
}
