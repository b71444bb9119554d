package graft.perfbench

import graft.model.{BtCell, CellCodec}

/** Everything a run feeds the program, derived from one seed: table
  * contents, the query streams and the ingest document batches. The
  * program only ever receives these generated inputs; the expected
  * answers are worked out here, in plain Scala, from the same values.
  */
object Gen {

  val Family = "f"

  /** Cell timestamps: minute `m` writes cpu at `tsOf(m)` and a second
    * cpu version plus mem 30 s later, so an all-versions read sees two
    * (key, timestamp) groups per row.
    */
  val BaseMicros: Long = 1600000000000000L
  def tsOf(minute: Int): Long = BaseMicros + minute * 60000000L
  def ts2Of(minute: Int): Long = tsOf(minute) + 30000000L

  /** Table shape. Key space is fixed; cell values come from the seed. */
  final case class Sizes(regions: Int, hosts: Int, minutes: Int, users: Int, vips: Int,
      levels: Int, cities: Int, countries: Int) {
    def metricsRows: Int = regions * hosts * minutes
    def metricsCells: Long = metricsRows * 3L
    def usersCells: Long = users * 3L
  }

  val DefaultSizes: Sizes = Sizes(regions = 8, hosts = 40, minutes = 200, users = 60000,
    vips = 960, levels = 16, cities = 40, countries = 7)

  def region(i: Int): String = f"r$i%d"
  def host(i: Int): String = f"h$i%02d"
  def minute(i: Int): String = f"m$i%03d"
  def user(i: Int): String = f"u$i%06d"
  def city(i: Int): String = f"c$i%02d"
  def level(i: Int): String = f"L$i%02d"
  def country(i: Int): String = f"C$i%d"

  /** splitmix64: a stateless, seedable mix, so any value can be
    * recomputed from (seed, stream, index) without storing it.
    */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, stream, i), n.toLong).toInt

  /** Table contents as plain arrays. */
  final class Tables(val seed: Long, val sizes: Sizes) {
    import sizes._
    /** metrics row index = (r * hosts + h) * minutes + m */
    val cpu1: Array[Int] = Array.tabulate(metricsRows)(i => uniform(seed, 1, i, 1000))
    val cpu2: Array[Int] = Array.tabulate(metricsRows)(i => uniform(seed, 2, i, 1000))
    val mem: Array[Int] = Array.tabulate(metricsRows)(i => uniform(seed, 3, i, 100000))
    val userName: Array[String] = Array.tabulate(users)(i => f"n${uniform(seed, 4, i, 1000000)}%06d")
    val userAge: Array[Int] = Array.tabulate(users)(i => 18 + uniform(seed, 5, i, 60))
    val userCity: Array[Int] = Array.tabulate(users)(i => uniform(seed, 6, i, cities))
    /** vip user indexes: distinct, drawn by the seed */
    val vipUsers: Array[Int] = {
      val rnd = new scala.util.Random(mix(seed, 7, 0))
      rnd.shuffle((0 until users).toVector).take(vips).sorted.toArray
    }
    val vipLevel: Array[Int] = Array.tabulate(vips)(i => uniform(seed, 8, i, levels))
    val cityCountry: Array[Int] = Array.tabulate(cities)(i => uniform(seed, 9, i, countries))

    def metricsIndex(r: Int, h: Int, m: Int): Int = (r * hosts + h) * minutes + m

    /** Row mutations per table, in key order, ready for MutateRows. */
    def metricsRow(i: Int): (String, Seq[BtCell]) = {
      val m = i % minutes
      val h = (i / minutes) % hosts
      val r = i / (minutes * hosts)
      s"${region(r)}#${host(h)}#${minute(m)}" -> Seq(
        BtCell(Family, "cpu", tsOf(m), CellCodec.encodeLong(cpu1(i).toLong)),
        BtCell(Family, "cpu", ts2Of(m), CellCodec.encodeLong(cpu2(i).toLong)),
        BtCell(Family, "mem", ts2Of(m), CellCodec.encodeLong(mem(i).toLong)))
    }
    def usersRow(i: Int): (String, Seq[BtCell]) =
      user(i) -> Seq(
        BtCell(Family, "name", BaseMicros, CellCodec.encodeString(userName(i))),
        BtCell(Family, "age", BaseMicros, CellCodec.encodeLong(userAge(i).toLong)),
        BtCell(Family, "city", BaseMicros, CellCodec.encodeString(city(userCity(i)))))
    def vipRow(i: Int): (String, Seq[BtCell]) =
      user(vipUsers(i)) -> Seq(
        BtCell(Family, "level", BaseMicros, CellCodec.encodeString(level(vipLevel(i)))))
    def cityRow(i: Int): (String, Seq[BtCell]) =
      city(i) -> Seq(
        BtCell(Family, "country", BaseMicros, CellCodec.encodeString(country(cityCountry(i)))))

    /** (table, row count, row at index) for every seeded table. */
    def all: Seq[(String, Int, Int => (String, Seq[BtCell]))] = Seq(
      ("metrics", metricsRows, metricsRow _),
      ("users", users, usersRow _),
      ("vip", vips, vipRow _),
      ("cities", cities, cityRow _))
  }

  /** One query of a stream: its SQL, its expected rows (each rendered
    * as `Row.mkString("|")`, sorted) and the cells stored under the key
    * ranges it covers, which is the work a scan of it moves.
    */
  final case class Query(kind: String, sql: String, expected: Seq[String], cells: Long)

  val PointKinds: Seq[String] = Seq("eq", "in", "composite", "like", "between", "dpp")
  val ScanKinds: Seq[String] = Seq("groupby", "versions", "valuefilter", "join")

  private def q(s: String) = s"'$s'"

  /** Query `i` of a stream: kinds rotate in a fixed order so every run
    * sees the same mix; the seed draws the parameters.
    */
  def pointQuery(t: Tables, i: Int): Query = {
    import t.sizes._
    val seed = t.seed
    def u(k: Int, n: Int) = uniform(seed, 100 + k, i, n)
    PointKinds(i % PointKinds.size) match {
      case "eq" =>
        val k = u(0, users)
        Query("eq", s"SELECT _row_key, name, age, city FROM users WHERE _row_key = ${q(user(k))}",
          Seq(s"${user(k)}|${t.userName(k)}|${t.userAge(k)}|${city(t.userCity(k))}"), 3)
      case "in" =>
        val ks = (0 until 20).map(j => uniform(seed, 101, i * 20L + j, users)).distinct
        Query("in",
          s"SELECT _row_key, age FROM users WHERE _row_key IN (${ks.map(k => q(user(k))).mkString(", ")})",
          ks.map(k => s"${user(k)}|${t.userAge(k)}").sorted, 3L * ks.size)
      case "composite" =>
        val r = u(2, regions)
        val hs = (0 until 3).map(j => uniform(seed, 102, i * 3L + j, hosts)).distinct.sorted
        val lo = u(3, minutes - 20)
        val rows = for (h <- hs; m <- lo until lo + 20) yield {
          val x = t.metricsIndex(r, h, m)
          s"${region(r)}|${host(h)}|${minute(m)}|${t.cpu2(x)}|${t.mem(x)}"
        }
        Query("composite",
          s"SELECT region, host, minute, cpu, mem FROM metrics WHERE region = ${q(region(r))} " +
            s"AND host IN (${hs.map(h => q(host(h))).mkString(", ")}) " +
            s"AND minute BETWEEN ${q(minute(lo))} AND ${q(minute(lo + 19))}",
          rows.sorted, 3L * rows.size)
      case "like" =>
        val r = u(4, regions)
        val h = u(5, hosts)
        val p = u(6, minutes / 10)
        val prefix = f"m$p%02d"
        val rows = (p * 10 until p * 10 + 10).map { m =>
          s"${region(r)}|${host(h)}|${minute(m)}|${t.cpu2(t.metricsIndex(r, h, m))}"
        }
        Query("like",
          s"SELECT region, host, minute, cpu FROM metrics WHERE region = ${q(region(r))} " +
            s"AND host = ${q(host(h))} AND minute LIKE '$prefix%'",
          rows.sorted, 3L * rows.size)
      case "between" =>
        val lo = u(7, users - 50)
        val rows = (lo until lo + 50).map(k => s"${user(k)}|${t.userAge(k)}")
        Query("between",
          s"SELECT _row_key, age FROM users WHERE _row_key BETWEEN ${q(user(lo))} AND ${q(user(lo + 49))}",
          rows.sorted, 3L * rows.size)
      case "dpp" =>
        val l = u(8, levels)
        val members = t.vipUsers.indices.filter(j => t.vipLevel(j) == l).map(t.vipUsers)
        Query("dpp",
          s"SELECT u._row_key, u.age FROM users_fs u JOIN vip v ON u._row_key = v._row_key " +
            s"WHERE v.level = ${q(level(l))}",
          members.map(k => s"${user(k)}|${t.userAge(k)}").sorted, vips + 3L * members.size)
    }
  }

  def scanQuery(t: Tables, i: Int): Query = {
    import t.sizes._
    val seed = t.seed
    def u(k: Int, n: Int) = uniform(seed, 200 + k, i, n)
    def byRegion[A](f: Int => Option[A])(agg: Seq[A] => String): Seq[String] =
      (0 until regions).flatMap { r =>
        val xs = for (h <- 0 until hosts; m <- 0 until minutes; a <- f(t.metricsIndex(r, h, m))) yield a
        if (xs.isEmpty) None else Some(s"${region(r)}|${agg(xs)}")
      }.sorted
    ScanKinds(i % ScanKinds.size) match {
      case "groupby" =>
        Query("groupby",
          "SELECT region, count(*), sum(cpu), max(mem) FROM metrics_fs GROUP BY region",
          byRegion(x => Some((t.cpu2(x), t.mem(x)))) { xs =>
            s"${xs.size}|${xs.map(_._1.toLong).sum}|${xs.map(_._2).max}"
          }, metricsCells)
      case "versions" =>
        // window over cell timestamps: (from, to] in minutes
        val from = u(0, minutes / 2)
        val to = from + minutes / 2
        val lo = tsOf(from); val hi = tsOf(to)
        val rows = (0 until regions).flatMap { r =>
          var n = 0L; var s = 0L
          for (h <- 0 until hosts; m <- 0 until minutes) {
            val x = t.metricsIndex(r, h, m)
            if (tsOf(m) > lo && tsOf(m) <= hi) { n += 1; s += t.cpu1(x) }
            if (ts2Of(m) > lo && ts2Of(m) <= hi) { n += 1; s += t.cpu2(x) }
          }
          if (n == 0) None else Some(s"${region(r)}|$n|$s")
        }.sorted
        Query("versions",
          s"SELECT region, count(*), sum(cpu) FROM metrics_av " +
            s"WHERE _timestamp > timestamp_micros($lo) AND _timestamp <= timestamp_micros($hi) " +
            "GROUP BY region",
          rows, metricsCells)
      case "valuefilter" =>
        val lo = u(1, 900)
        Query("valuefilter",
          s"SELECT region, count(*), sum(mem) FROM metrics_fs WHERE cpu >= $lo AND cpu < ${lo + 100} " +
            "GROUP BY region",
          byRegion(x => if (t.cpu2(x) >= lo && t.cpu2(x) < lo + 100) Some(t.mem(x)) else None) { xs =>
            s"${xs.size}|${xs.map(_.toLong).sum}"
          }, metricsCells)
      case "join" =>
        val span = users * 3 / 4
        val lo = u(2, users - span)
        val hi = lo + span - 1
        val rows = (lo to hi).groupBy(k => t.cityCountry(t.userCity(k))).toSeq.map { case (c, ks) =>
          s"${country(c)}|${ks.size}|${ks.map(k => t.userAge(k).toLong).sum}"
        }.sorted
        Query("join",
          "SELECT c.country, count(*), sum(u.age) FROM users u JOIN cities c ON u.city = c._row_key " +
            s"WHERE u._row_key BETWEEN ${q(user(lo))} AND ${q(user(hi))} GROUP BY c.country",
          rows, 3L * span + cities)
    }
  }

  // ---------------------------------------------------------------------
  // ingest documents
  // ---------------------------------------------------------------------

  val DocsPerBatch = 1000
  private val Vocab = 6000
  private def word(w: Int): String = {
    // pronounceable, distinct per index
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val sb = new StringBuilder
    var x = w + 1
    while (x > 0) {
      sb += cons(x % cons.length); x /= cons.length
      sb += vow(x % vow.length); x /= vow.length
    }
    sb.result()
  }

  /** Doc id = batch * DocsPerBatch + position (ids of one batch are one
    * contiguous key range, so a read-back is one BETWEEN).
    */
  def docId(batch: Int, j: Int): Long = batch.toLong * DocsPerBatch + j

  /** A planted near-duplicate copies an earlier document (of this batch
    * or any earlier one) and changes only its last word, which keeps
    * its 5-shingle Jaccard with the source above 0.9.
    */
  final case class Planted(source: Long, copy: Long)

  /** The source a planted document copies, None for an original. About
    * one document in twenty is planted.
    */
  def plantedSource(seed: Long, id: Long): Option[Long] =
    if (id > 0 && uniform(seed, 300, id, 20) == 0) Some(uniform(seed, 301, id, id.toInt).toLong)
    else None

  /** The text of document `id`, following a planted copy to its source. */
  def text(seed: Long, id: Long): String = plantedSource(seed, id) match {
    case None => originalText(seed, id)
    case Some(src) =>
      val words = text(seed, src).split(' ')
      words(words.length - 1) = word(Vocab + uniform(seed, 302, id, Vocab))
      words.mkString(" ")
  }

  /** Batch `b` of a stream: (id, text) pairs plus its planted duplicates. */
  def docBatch(seed: Long, b: Int): (Seq[(Long, String)], Seq[Planted]) = {
    val ids = (0 until DocsPerBatch).map(docId(b, _))
    (ids.map(id => id -> text(seed, id)),
      ids.flatMap(id => plantedSource(seed, id).map(Planted(_, id))))
  }

  /** The unplanted text of document `id`: 40 to 79 seeded words. */
  def originalText(seed: Long, id: Long): String = {
    val n = 40 + uniform(seed, 303, id, 40)
    (0 until n).map(k => word(uniform(seed, 304, id * 128 + k, Vocab))).mkString(" ")
  }
}
