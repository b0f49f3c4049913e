package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

final case class DocumentRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class EventRow(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String,
                          value: Double, props: String)
final case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)
final case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                             l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                             l_tax: Double, l_returnflag: String, l_linestatus: String,
                             l_shipdate: LocalDateTime)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                          o_totalprice: Double, o_orderdate: LocalDateTime, o_orderpriority: String)
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
                             c_mktsegment: String)
final case class PartRow(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                         p_size: Int, p_retailprice: Double)
final case class SupplierRow(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class RegionRow(r_regionkey: Int, r_name: String)

/** The catalog's input tables, generated from a seed: a TPC-H-like star
  * schema plus `documents`, `events` and `embeddings`, with the shapes and
  * value domains of the sf0.01 test tables. Every row is a pure function
  * of (seed, table, row number).
  */
object CatalogData {
  val Documents = 500L
  val Events = 10000L
  val Embeddings = 500L
  val Lineitems = 60000L
  val Orders = 15000L
  val Customers = 1500L
  val Parts = 2000L
  val Suppliers = 100L

  /** 31 words; "dup" marks a near-duplicate document. */
  val Vocabulary: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window", "dup")

  private def h(seed: Long, table: Int, i: Long, k: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + table * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL + k
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def u(seed: Long, table: Int, i: Long, k: Int): Double =
    (h(seed, table, i, k) >>> 11).toDouble / (1L << 53).toDouble
  private def pick[T](xs: Array[T], seed: Long, table: Int, i: Long, k: Int): T =
    xs((u(seed, table, i, k) * xs.length).toInt)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def day(base: LocalDateTime, days: Double): LocalDateTime = base.plusDays(days.toLong)

  /** Document text: 10–100 words with a skewed word distribution; one in
    * twenty documents repeats an earlier one with " dup" appended.
    */
  def text(seed: Long, i: Long): String =
    if (i > 0 && u(seed, 0, i, 0) < 0.05) text(seed, (i - 1 - java.lang.Math.floorMod(h(seed, 0, i, 1), 50L)).max(0L)) + " dup"
    else {
      val n = 10 + (u(seed, 0, i, 2) * 90).toInt
      (0 until n).map { w =>
        val x = u(seed, 0, i, 10 + w)
        Vocabulary((x * x * (Vocabulary.length - 1)).toInt)
      }.mkString(" ")
    }

  private val Langs = Array("en", "en", "en", "es", "fr", "zh", "de")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val EventStart = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Label centroids: embeddings cluster around one of ten directions. */
  private def embedding(seed: Long, i: Long, label: Int): Array[Float] = {
    val v = Array.tabulate(64) { d =>
      (u(seed, 2, label, 1000 + d) - 0.5) * 2 + (u(seed, 2, i, 100 + d) - 0.5)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    def table[T: Encoder](name: String, n: Long)(row: Long => T): Unit = {
      val ds: Dataset[T] = spark.range(0, n, 1, 1).map(i => row(i))
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    table("documents", Documents) { i =>
      val t = text(seed, i)
      DocumentRow(i, t, pick(Langs, seed, 0, i, 3), s"src${i % 20}", t.length.toLong)
    }
    table("events", Events) { i =>
      val secs = (i + u(seed, 1, i, 0)) * (30L * 86400 / Events.toDouble)
      EventRow(i, EventStart.plusNanos((secs * 1e9).toLong), (u(seed, 1, i, 1) * Events / 67).toLong,
        pick(EventTypes, seed, 1, i, 2), cents(0.01 + u(seed, 1, i, 3) * 490),
        s"""{"k": ${(u(seed, 1, i, 4) * 100).toInt}}""")
    }
    table("embeddings", Embeddings) { i =>
      val label = (u(seed, 2, i, 0) * 10).toInt
      EmbeddingRow(i, embedding(seed, i, label), label)
    }
    table("lineitem", Lineitems) { i =>
      val qty = 1.0 + (u(seed, 3, i, 3) * 50).toInt
      val ship = day(Epoch, u(seed, 3, i, 7) * 2500)
      LineitemRow((u(seed, 3, i, 0) * Orders).toLong, (u(seed, 3, i, 1) * Parts).toLong,
        (u(seed, 3, i, 2) * Suppliers).toLong, 1 + (u(seed, 3, i, 8) * 7).toInt, qty,
        cents(qty * (900 + u(seed, 3, i, 4) * 1200)), (u(seed, 3, i, 5) * 11).toInt / 100.0,
        (u(seed, 3, i, 6) * 9).toInt / 100.0, pick(Array("A", "N", "R"), seed, 3, i, 9),
        if (ship.isBefore(LocalDateTime.of(1998, 6, 1, 0, 0))) "F" else "O", ship)
    }
    table("orders", Orders) { i =>
      OrderRow(i, (u(seed, 4, i, 0) * Customers).toLong, pick(Array("F", "O", "P"), seed, 4, i, 1),
        cents(1000 + u(seed, 4, i, 2) * 499000), day(Epoch, u(seed, 4, i, 3) * 2400),
        pick(Priorities, seed, 4, i, 4))
    }
    table("customer", Customers) { i =>
      CustomerRow(i, f"Customer#$i%09d", (u(seed, 5, i, 0) * 25).toInt,
        cents(-999 + u(seed, 5, i, 1) * 10998), pick(Segments, seed, 5, i, 2))
    }
    table("part", Parts) { i =>
      PartRow(i, s"${pick(Adjectives, seed, 6, i, 0)} ${pick(Nouns, seed, 6, i, 1)}",
        s"Brand#${1 + (u(seed, 6, i, 2) * 25).toInt}", pick(PartTypes, seed, 6, i, 3),
        1 + (u(seed, 6, i, 4) * 50).toInt, cents(900 + (i % 1000) * 0.1))
    }
    table("supplier", Suppliers) { i =>
      SupplierRow(i, f"Supplier#$i%09d", (u(seed, 7, i, 0) * 25).toInt,
        cents(-999 + u(seed, 7, i, 1) * 10998))
    }
    table("nation", 25) { i => NationRow(i.toInt, s"NATION_$i", (i % 5).toInt) }
    table("region", 5) { i => RegionRow(i.toInt, Regions(i.toInt)) }
  }
}
