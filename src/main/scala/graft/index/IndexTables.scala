package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The one reader of each index table. Every read declares the schema the
  * table's writer produces (the writer's encoder, or the termstats
  * aggregate's columns), so Spark launches no schema-inference job per read.
  * Partition columns (`group=` under postings) are still discovered from the
  * directory names. A declared column that is missing on disk would read as
  * null, so `TableSchemaSpec` pins each declared schema to the written one.
  */
private[graft] object IndexTables {

  private val ForwardSchema: StructType = Encoders.product[ForwardRow].schema
  private val PostingsSchema: StructType = Encoders.product[PostingBlock].schema
  private val TermstatsSchema: StructType = StructType(Seq(
    StructField("term", LongType), StructField("df", LongType), StructField("bucket", IntegerType)))

  /** Forward rows (`ForwardRow`) of the index at `indexDir`. */
  def forward(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(ForwardSchema).parquet(s"$indexDir/forward")

  /** Posting blocks (`PostingBlock`) plus the `group` partition column. */
  def postings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(PostingsSchema).parquet(s"$indexDir/postings")

  /** (term, df, bucket) rows, sorted by term within each bucket. */
  def termstats(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(TermstatsSchema).parquet(s"$indexDir/termstats")
}
