package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the parquet tables the pipeline operators read (the schema
  * of graft's test fixtures: a TPC-H-like star, an `events` stream,
  * `documents` with planted near-duplicates and clustered `embeddings`)
  * at about a tenth of the size graft's bench uses. The data seed is
  * fixed, so the tables, and the query results pinned in
  * [[OpsWorkload.Pinned]], are the same in every checkout. */
object OpsData {
  val Seed = 20241017L
  private val Stamp = "_GENERATED_v1"

  private val Words = Array("a", "the", "data", "spark", "query", "table", "row", "column",
    "scan", "filter", "join", "group", "agg", "sort", "hash", "key", "value", "window",
    "stream", "batch", "merge", "order", "part", "line", "customer", "vector", "fast",
    "slow", "big", "small", "index")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "red", "small", "new", "old", "large")
  private val Nouns = Array("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
  private val Types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Statuses = Array("O", "F", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("F", "O")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** Fails when the tables are missing, so a run never times a partial set. */
  def check(dir: java.nio.file.Path): Unit =
    require(java.nio.file.Files.exists(dir.resolve(Stamp)),
      s"operator tables missing under $dir: run the benchmark's build step")

  def generate(spark: SparkSession, dir: java.nio.file.Path): Unit = {
    val r = new SplittableRandom(Seed)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    val nCustomer = 1500; val nSupplier = 100; val nPart = 2000; val nOrders = 15000
    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCustomer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), Segments(r.nextInt(Segments.length)))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99))))
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Adjectives(r.nextInt(Adjectives.length))} ${Nouns(r.nextInt(Nouns.length))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderDates = Array.fill(nOrders)(day(epoch, 2400))
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r.nextLong(nCustomer.toLong), Statuses(r.nextInt(3)),
        money(1000, 500000), orderDates(i), Priorities(r.nextInt(Priorities.length)))))
    val lineitems = (0 until nOrders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextLong(nPart.toLong), r.nextLong(nSupplier.toLong), ln, q,
          math.round(q * money(900, 2100) * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
          orderDates(o).plusDays(1L + r.nextInt(120)))
      }
    }
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType), lineitems)

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val eventTimes = Array.fill(10000)(r.nextLong(30L * 86400L * 1000000L)).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      eventTimes.indices.map(i => Row(i.toLong, t0.plusNanos(eventTimes(i) * 1000L), r.nextLong(150L),
        EventTypes(r.nextInt(EventTypes.length)), math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")))

    // documents: random word strings, ~10% near-copies of an earlier
    // document (a few words replaced) and a few exact copies
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until 500).foreach { i =>
      val roll = r.nextInt(100)
      texts += (if (i > 10 && roll < 2) texts(r.nextInt(i))
        else if (i > 10 && roll < 12) {
          val base = texts(r.nextInt(i)).clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => base(r.nextInt(base.length)) = Words(r.nextInt(Words.length)))
          base
        } else Array.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.length))))
    }
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.indices.map { i =>
        val t = texts(i).mkString(" ")
        Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
      })

    // embeddings: unit vectors around one centroid per label
    val dim = 64
    val centroids = Array.fill(10)(Array.fill(dim)(r.nextDouble() * 2 - 1))
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c + (r.nextDouble() * 2 - 1) * 1.5)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    java.nio.file.Files.writeString(dir.resolve(Stamp), "ok\n")
  }
}
