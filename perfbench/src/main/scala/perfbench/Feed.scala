package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded JSON feed: an `events` table (flat rows, served in pages) and a
  * `users` table (nested rows with structs and an array, served as one
  * response). Rows are held column-wise; every response body is rendered
  * to bytes once, up front, so serving a page costs a memory copy and no
  * JSON encoding.
  *
  * The expected answer of every query the benchmark runs is computed here
  * with plain loops over the generated columns, independently of Spark.
  */
final class Feed(seed: Long, val nEvents: Int, val pageSize: Int, val nUsers: Int) {
  import Feed._

  require(nEvents % pageSize == 0, "events must fill whole pages")
  val pages: Int = nEvents / pageSize

  private val rnd = new java.util.SplittableRandom(seed)

  // events (event_id = row index)
  val userId: Array[Long] = Array.fill(nEvents)(rnd.nextLong(nUsers.toLong))
  val kind: Array[Int] = Array.fill(nEvents)(rnd.nextInt(Kinds.length))
  val qty: Array[Long] = Array.fill(nEvents)(1L + rnd.nextLong(50L))
  val cents: Array[Long] = Array.fill(nEvents)(rnd.nextLong(100000L))
  /** A permutation of 0 until nEvents, so ORDER BY score has no ties. */
  val score: Array[Long] = {
    val a = Array.tabulate(nEvents)(_.toLong)
    var i = nEvents - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  val day: Array[Int] = Array.fill(nEvents)(1 + rnd.nextInt(28))

  // users (id = row index)
  val city: Array[Int] = Array.fill(nUsers)(rnd.nextInt(Cities))
  val zone: Array[Long] = Array.fill(nUsers)(rnd.nextLong(10L))
  val tier: Array[Long] = Array.fill(nUsers)(rnd.nextLong(5L))
  val tags: Array[Array[Int]] =
    Array.fill(nUsers)(Array.fill(rnd.nextInt(4))(rnd.nextInt(Tags.length)))
  private val geo: Array[Long] = Array.fill(nUsers)(rnd.nextLong())

  /** The user the selective-filter query looks up. */
  val probeUser: Long = rnd.nextLong(nUsers.toLong)

  def eventJson(i: Int, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"event_id\":").append(i)
      .append(",\"user_id\":").append(userId(i))
      .append(",\"kind\":\"").append(Kinds(kind(i)))
      .append("\",\"qty\":").append(qty(i))
      .append(",\"amount\":")
    appendCents(cents(i), sb)
    sb.append(",\"score\":").append(score(i))
      .append(",\"day\":\"2024-01-")
    if (day(i) < 10) sb.append('0')
    sb.append(day(i)).append("\"}")
  }

  def userJson(u: Int, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"id\":").append(u)
      .append(",\"name\":\"user_").append(u)
      .append("\",\"address\":{\"city\":\"city_").append(city(u))
      .append("\",\"zone\":").append(zone(u))
      .append(",\"geo\":{\"lat\":")
    appendCents((geo(u) & 0xffff) - 0x8000, sb)
    sb.append(",\"lng\":")
    appendCents(((geo(u) >>> 16) & 0xffff) - 0x8000, sb)
    sb.append("}},\"tags\":[")
    var k = 0
    while (k < tags(u).length) {
      if (k > 0) sb.append(',')
      sb.append('"').append(Tags(tags(u)(k))).append('"')
      k += 1
    }
    sb.append("],\"tier\":").append(tier(u)).append('}')
  }

  /** Rows `from until to` of a table as one JSON array body. */
  private def render(from: Int, to: Int, row: (Int, java.lang.StringBuilder) => Unit): Array[Byte] = {
    val sb = new java.lang.StringBuilder((to - from) * 128)
    sb.append('[')
    var i = from
    while (i < to) {
      if (i > from) sb.append(',')
      row(i, sb)
      i += 1
    }
    sb.append(']').toString.getBytes(UTF_8)
  }

  /** Page `p` (1-based) of the events table. */
  def eventPage(p: Int): Array[Byte] =
    render((p - 1) * pageSize, p * pageSize, eventJson)

  def usersBody: Array[Byte] = render(0, nUsers, userJson)

  /** Pre-rendered routes: events pages under `/events`, users under `/users`. */
  def routes(withUsers: Boolean): FeedServer.Routes = {
    val eventPages = Array.tabulate(pages)(p => eventPage(p + 1))
    val users = if (withUsers) usersBody else null
    FeedServer.Routes(Map("/events" -> eventPages), if (withUsers) Map("/users" -> users) else Map.empty)
  }

  // ---- expected answers, computed without Spark, once (outside the timed region) ----

  lazy val sumCents: Long = cents.sum
  val sumEventId: Long = nEvents.toLong * (nEvents - 1) / 2
  lazy val minQty: Long = qty.min
  lazy val maxQty: Long = qty.max

  lazy val probeEventIds: Seq[Long] =
    (0 until nEvents).filter(i => userId(i) == probeUser).map(_.toLong)

  /** Event ids of the 10 highest scores, best first. */
  lazy val top10ScoreIds: Seq[Long] = {
    val byScore = new Array[Int](nEvents)
    var i = 0
    while (i < nEvents) { byScore(score(i).toInt) = i; i += 1 }
    (0 until 10).map(k => byScore(nEvents - 1 - k).toLong)
  }

  /** kind → (rows, sum qty) */
  lazy val byKind: Map[String, (Long, Long)] =
    (0 until nEvents).groupMapReduce(i => Kinds(kind(i)))(i => (1L, qty(i)))(plus)

  /** user tier → (rows, sum qty) over the events ⋈ users join */
  lazy val byTier: Map[Long, (Long, Long)] =
    (0 until nEvents).groupMapReduce(i => tier(userId(i).toInt))(i => (1L, qty(i)))(plus)

  /** city → users with at least two tags, summing their zone */
  lazy val taggedByCity: Map[String, (Long, Long)] =
    (0 until nUsers).filter(u => tags(u).length >= 2)
      .groupMapReduce(u => s"city_${city(u)}")(u => (1L, zone(u)))(plus)

  /** Per user, the event with the highest score: (users with events, sum of those event ids). */
  lazy val bestPerUser: (Long, Long) = {
    val best = scala.collection.mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < nEvents) {
      val u = userId(i)
      best.get(u) match {
        case Some(j) if score(j) >= score(i) =>
        case _ => best.update(u, i)
      }
      i += 1
    }
    (best.size.toLong, best.valuesIterator.map(_.toLong).sum)
  }
}

object Feed {
  val Kinds: Array[String] = Array("click", "view", "cart", "purchase", "refund")
  val Tags: Array[String] = Array("new", "vip", "beta", "eu", "us", "apac", "mobile", "web")
  val Cities = 40

  private def plus(a: (Long, Long), b: (Long, Long)) = (a._1 + b._1, a._2 + b._2)

  /** Fixed-point cents as a JSON number with two decimals. */
  private def appendCents(c: Long, sb: java.lang.StringBuilder): Unit = {
    if (c < 0) sb.append('-')
    val a = math.abs(c)
    sb.append(a / 100).append('.')
    val r = a % 100
    if (r < 10) sb.append('0')
    sb.append(r)
  }
}
