package graft.ops

import java.nio.file.{Files, Paths}
import java.time.{Duration, Instant, LocalDate}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The shared query prologues: the events calendar and its dense count
  * series, the p75-strong edge rule, the Okapi BM25 weight and the
  * (order, brand) baskets, each against a driver recompute, plus a
  * source guard that each of those decisions is written once. */
class PrologueSpec extends AnyFunSuite with SparkSpec {

  test("calendar: 720 hourly and 30 daily steps from 2024-01-01 00:00 UTC") {
    def steps(step: String): Seq[Instant] =
      TimeSeries.calendar(spark, step).collect().map(_.getTimestamp(0).toInstant).toSeq
    val start = Instant.parse("2024-01-01T00:00:00Z")
    for ((step, n, gap) <- Seq(("hour", 720, Duration.ofHours(1)),
        ("day", 30, Duration.ofDays(1)))) {
      val got = steps(step)
      assert(got == (0 until n).map(i => start.plus(gap.multipliedBy(i.toLong))), step)
    }
    val dates = TimeSeries.calendarDates(spark).collect().map(_.getDate(0).toLocalDate)
    assert(dates.toSeq == (0 until 30).map(i => LocalDate.of(2024, 1, 1).plusDays(i.toLong)))
  }

  test("denseCounts: every (type, step) cell present, a gap reads 0, cells sum to the rows in the window") {
    import spark.implicits._
    val events = Seq(
      ("click", "2024-01-01 00:10:00"), ("click", "2024-01-01 00:50:00"),
      ("click", "2024-01-01 02:05:00"), // 01:00 is a gap hour for click
      ("view", "2024-01-15 12:00:00"), ("view", "2024-01-30 23:59:59"),
      ("view", "2024-01-31 00:00:00"), // past the calendar
      ("click", "2023-12-31 23:59:59")) // before it
      .toDF("event_type", "t").select($"event_type", to_timestamp($"t").as("ts"))
    val inWindow = 5L
    for ((step, n) <- Seq(("hour", 720), ("day", 30))) {
      val cells = TimeSeries.denseCounts(events, step).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant) -> r.getLong(2)).toMap
      assert(cells.size == 2 * n, step)
      assert(cells.values.sum == inWindow, step)
    }
    val hourly = TimeSeries.denseCounts(events, "hour").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString) -> r.getLong(2)).toMap
    assert(hourly(("click", "2024-01-01T00:00:00Z")) == 2L)
    assert(hourly(("click", "2024-01-01T01:00:00Z")) == 0L)
    assert(hourly(("click", "2024-01-01T02:00:00Z")) == 1L)
    assert(hourly(("view", "2024-01-01T00:00:00Z")) == 0L)
    assert(hourly(("view", "2024-01-30T23:00:00Z")) == 1L)
    // rows narrows the counts, never the series
    val narrowed = TimeSeries.denseCounts(events, "hour", events.filter($"event_type" === "view"))
      .collect()
    assert(narrowed.length == 2 * 720)
    assert(narrowed.filter(_.getString(0) == "click").forall(_.getLong(2) == 0L))
  }

  test("strongEdges: w at or above the ceil(0.75 n)-th smallest w in (w, src, dst) order, on random edge frames") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42, 99, 2024)) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0 until 8).map(i => s"n$i")
      val edges = for (a <- nodes; b <- nodes
          if rnd.nextDouble() < 0.4 || (a, b) == ("n0", "n1"))
        yield (a, b, (1 + rnd.nextInt(6)).toLong)
      val sorted = edges.sortBy { case (a, b, w) => (w, a, b) }
      val k = math.ceil(0.75 * edges.size).toInt
      val thr = sorted(k - 1)._3
      val expected = edges.filter(_._3 >= thr).toSet
      val frame = edges.toDF("src", "dst", "w")
      val strong = Graph.strongEdges(frame)
      assert(strong.columns.toSeq == frame.columns.toSeq, s"seed $seed")
      val got = strong.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(got.length == expected.size && got.toSet == expected, s"seed $seed")
    }
  }

  test("bm25Weights: equal to a driver Okapi recompute on a 3-document corpus") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq("a", "b", "a", "c")),
      (1L, Seq("b", "c")),
      (2L, Seq("a", "d", "d", "d", "e")))
    val docs = corpus.toDF("doc_id", "toks")
    val terms = Seq("a", "d", "z")
    val got = Text.bm25Weights(docs, Text.queryTf(docs, terms)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Double]("w"))).toMap
    val n = corpus.size.toDouble
    val avgdl = corpus.map(_._2.size).sum / n
    val hits = for ((id, toks) <- corpus; term <- terms if toks.contains(term))
      yield (id, term) -> toks.count(_ == term).toLong
    val df = hits.groupBy(_._1._2).view.mapValues(_.size.toDouble).toMap
    assert(got.keySet == hits.map(_._1).toSet)
    for (((id, term), tf) <- hits) {
      val dl = corpus.find(_._1 == id).get._2.size.toDouble
      val idf = math.log(1.0 + (n - df(term) + 0.5) / (df(term) + 0.5))
      val w = idf * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
      val (gotTf, gotW) = got((id, term))
      assert(gotTf == tf, (id, term))
      assert(math.abs(gotW - w) < 1e-12, s"($id, $term): $gotW vs $w")
    }
  }

  test("brandBaskets: the distinct (order, brand) pairs of lineitem joined to part") {
    val brandOf = graft.Tables.t(spark, sfDir, "part").select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = graft.Tables.t(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), brandOf(r.getLong(1)))).toSet
    val got = Affinity.brandBaskets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == expected.size && got.toSet == expected)
  }

  /** Occurrences of `needle` per `src/main` file, files without it left out. */
  private def occurrences(needle: String): Map[String, Int] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources at $root")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map { f =>
        val text = Files.readString(f)
        root.relativize(f).toString.replace('\\', '/') ->
          Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
            .takeWhile(_ >= 0).size
      }
      .filter(_._2 > 0).toMap
    finally files.close()
  }

  test("each shared prologue decision is written once in src/main") {
    for ((needle, home) <- Seq(
        "sequence(timestamp'2024-01-01" -> "graft/ops/TimeSeries.scala",
        "sequence(date'2024-01-01" -> "graft/ops/TimeSeries.scala",
        "$\"rn\" === expr(\"(75 * n + 99) div 100\")" -> "graft/ops/Graph.scala",
        "log(($\"n_docs\" - $\"df\" + 0.5)" -> "graft/ops/Text.scala"))
      assert(occurrences(needle) == Map(home -> 1), needle)
  }
}
