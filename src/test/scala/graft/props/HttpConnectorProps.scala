package graft.props

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.config.Source
import graft.http.StubServer
import graft.source.HttpTables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** The `http` connector decodes with Spark's own JSON reader, so for any
  * feed it returns the same rows as `HttpTables.load` (`spark.read.json`),
  * under a random projection and a comparison filter the scan is handed
  * as a pushed filter. Rows mix longs, doubles, strings, booleans, an
  * array and a nested struct, with explicit nulls and missing fields. */
object HttpConnectorProps extends Properties("HttpConnector") with SparkSpec {

  // every case runs two Spark loads and two queries
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val mapper = new ObjectMapper()
  private val fields = Seq("id", "l", "d", "s", "b", "arr", "nested")

  /** One JSON object; each field is a value, an explicit null, or absent. */
  private val genRow: Gen[String] = for {
    id <- Gen.choose(-20L, 20L)
    l <- Gen.choose(-20L, 20L)
    d <- Gen.choose(-20.0, 20.0)
    s <- Gen.alphaNumStr.map(_.take(4))
    b <- Gen.oneOf(true, false)
    arr <- Gen.listOf(Gen.choose(-5L, 5L))
    x <- Gen.choose(-5L, 5L)
    y <- Gen.alphaStr.map(_.take(3))
    kinds <- Gen.listOfN(fields.length, Gen.frequency(6 -> 'v', 1 -> 'n', 1 -> 'm'))
  } yield {
    val n = mapper.createObjectNode()
    fields.zip(kinds).foreach {
      case (f, 'n') => n.putNull(f)
      case (_, 'm') => ()
      case ("id", _) => n.put("id", id)
      case ("l", _) => n.put("l", l)
      case ("d", _) => n.put("d", d)
      case ("s", _) => n.put("s", s)
      case ("b", _) => n.put("b", b)
      case ("arr", _) => val a = n.putArray("arr"); arr.foreach(a.add)
      case _ => val o = n.putObject("nested"); o.put("x", x); o.put("y", y)
    }
    n.toString
  }

  /** (column, predicate) over one scalar column. */
  private val genFilter: Gen[(String, Column)] = Gen.oneOf(
    Gen.choose(-20L, 20L).flatMap(v =>
      Gen.oneOf("id" -> (col("id") > v), "l" -> (col("l") <= v), "l" -> (col("l") === v))),
    Gen.choose(-20.0, 20.0).map(v => "d" -> (col("d") < v)),
    Gen.alphaNumStr.map(v => "s" -> (col("s") >= v.take(2))),
    Gen.oneOf(true, false).map(v => "b" -> (col("b") === v)))

  private def query(df: DataFrame, filter: (String, Column), keep: Seq[String]): Seq[String] = {
    val filtered = if (df.columns.contains(filter._1)) df.where(filter._2) else df
    val cols = Some(keep.filter(df.columns.contains)).filter(_.nonEmpty)
      .getOrElse(df.columns.toSeq)
    filtered.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  property("format(\"http\") returns the rows HttpTables.load returns") =
    forAll(Gen.choose(1, 20).flatMap(Gen.listOfN(_, genRow)), genFilter,
      Gen.someOf(fields)) { (rows, filter, keep) =>
      val body = rows.mkString("[", ",", "]")
      StubServer.withServer({ case ("GET", "/feed", _) => (200, body) }) { srv =>
        val viaConnector = spark.read.format("http").option("url", srv.url("/feed")).load()
        val viaTables = HttpTables.load(spark, Source("feed", srv.url("/feed")))
        try viaConnector.schema == viaTables.schema &&
          query(viaConnector, filter, keep.toSeq) == query(viaTables, filter, keep.toSeq)
        finally viaTables.unpersist()
      }
    }
}
