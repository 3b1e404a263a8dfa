package graft.perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.time.{LocalDateTime, ZoneId, ZoneOffset}

/** Seeded synthetic inputs of the weather pipeline. The program sees only
  * what these functions generate: the city dimension and the payloads its
  * fetch returns. Every value is a pure function of (seed, cycle, city), so
  * the expected fact rows can be derived without the program.
  */
object Gen {

  final case class City(id: Long, name: String, country: String, lat: Double, lon: Double, tzSec: Int)

  /** One OpenWeatherMap reading, before JSON rendering. `None` fields are
    * left out of the payload (the q45 degenerate shapes).
    */
  final case class Reading(city: City, cycle: Long, dt: Long, weather: Option[(Int, String, String)],
      temp: Double, feels: Double, tmin: Double, tmax: Double, pressure: Int, humidity: Int,
      speed: Double, deg: Int, gust: Option[Double], clouds: Int, sys: Boolean)

  /** splitmix64: a stateless 64-bit mixer, so every value is addressable. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ p))
  /** Uniform in [0, 1). */
  def u(seed: Long, parts: Long*): Double = (h(seed, parts: _*) >>> 11) * (1.0 / (1L << 53))
  def int(n: Int, seed: Long, parts: Long*): Int = (u(seed, parts: _*) * n).toInt

  private val Syll = Array("mo", "sk", "va", "no", "vo", "ro", "ka", "zan", "per", "tom", "sa",
    "ra", "ly", "ar", "khan", "gel", "ufa", "chel", "bin", "sur", "yak", "ir", "kut", "lip")

  /** `ru` Russian cities plus `other` foreign ones (which the producer's
    * RU filter drops), shaped like the reference's city_list.json.
    */
  def cities(seed: Long, ru: Int, other: Int): Seq[City] =
    (0 until ru + other).map { i =>
      val name = (0 until 3).map(j => Syll(int(Syll.length, seed, 1, i, j))).mkString.capitalize + s"-$i"
      val lat = BigDecimal(42 + u(seed, 2, i) * 28).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val lon = BigDecimal(20 + u(seed, 3, i) * 150).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      City(100000L + i, name, if (i < ru) "RU" else "KZ", lat, lon, 3600 * (2 + int(10, seed, 4, i)))
    }

  def cityListJson(cs: Seq[City]): String =
    cs.map(c => s"""{"id":${c.id},"name":"${c.name}","state":"","country":"${c.country}",""" +
      s""""coord":{"lon":${c.lon},"lat":${c.lat}}}""").mkString("[\n", ",\n", "\n]\n")

  private val Mains = Array(("Clear", "clear sky"), ("Clouds", "broken clouds"),
    ("Rain", "light rain"), ("Snow", "light snow"), ("Mist", "mist"), ("Drizzle", "drizzle"))

  /** A value with three decimals, so the (5,2)/(4,2) casts must round. */
  private def d3(x: Double): Double = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The share of malformed payloads is exact: `malformed` of every
    * cycle's RU cities, at seeded positions.
    */
  def malformedSet(seed: Long, cycle: Long, ru: Int, malformed: Int): Set[Int] =
    (0 until ru).sortBy(i => h(seed, 10, cycle, i)).take(malformed).toSet

  def reading(seed: Long, c: City, idx: Int, cycle: Long, dt: Long): Reading = {
    def r(k: Long) = u(seed, 20, cycle, idx, k)
    val shape = int(10, seed, 21, cycle, idx) // 0 gust missing, 1 empty weather, 2 sys missing
    val temp = d3(-30 + r(1) * 65)
    val speed = d3(r(2) * 25)
    val w = Mains(int(Mains.length, seed, 22, cycle, idx))
    Reading(c, cycle, dt,
      if (shape == 1) None else Some((800 + int(40, seed, 23, cycle, idx), w._1, w._2)),
      temp, d3(temp - r(3) * 5), d3(temp - r(4) * 4), d3(temp + r(5) * 4),
      970 + int(70, seed, 24, cycle, idx), 10 + int(91, seed, 25, cycle, idx),
      speed, int(360, seed, 26, cycle, idx), if (shape == 0) None else Some(d3(speed + r(6) * 10)),
      int(101, seed, 27, cycle, idx), shape != 2)
  }

  def json(x: Reading): String = {
    val c = x.city
    val weather = x.weather.map { case (id, m, d) => s"""{"id":$id,"main":"$m","description":"$d","icon":"01d"}""" }
      .toSeq.mkString("[", ",", "]")
    val wind = s""""speed":${x.speed},"deg":${x.deg}""" + x.gust.map(g => s""","gust":$g""").getOrElse("")
    val sys = if (!x.sys) "" else s""","sys":{"type":1,"country":"${c.country}","sunrise":${x.dt - 20000},"sunset":${x.dt + 21000}}"""
    s"""{"coord":{"lon":${c.lon},"lat":${c.lat}},"weather":$weather,"base":"stations",""" +
      s""""main":{"temp":${x.temp},"feels_like":${x.feels},"temp_min":${x.tmin},"temp_max":${x.tmax},""" +
      s""""pressure":${x.pressure},"humidity":${x.humidity}},"visibility":${x.cycle},""" +
      s""""wind":{$wind},"clouds":{"all":${x.clouds}},"dt":${x.dt}$sys,""" +
      s""""timezone":${c.tzSec},"id":${c.id},"name":"${c.name}","cod":200}"""
  }

  /** A payload the parser must reject: the reading cut off mid-object. */
  def malformedJson(x: Reading): String = json(x).take(40 + (x.cycle % 17).toInt)

  // ---- the fact row, derived without the program ----

  final case class Fact(city: String, timezone: Int, country: String, lon: Float, lat: Float,
      main: String, desc: String, temp: JBig, feels: JBig, tmin: JBig, tmax: JBig,
      pressure: Int, humidity: Int, visibility: Int, speed: JBig, deg: Int, gust: JBig,
      clouds: Int, sunrise: Option[Long], sunset: Option[Long])

  /** Spark's double → DECIMAL cast: the double's shortest decimal form,
    * rounded half-up to the scale.
    */
  def dec(x: Double, scale: Int): JBig = new JBig(java.lang.Double.toString(x)).setScale(scale, RoundingMode.HALF_UP)

  def fact(x: Reading): Fact = Fact(x.city.name, x.city.tzSec, if (x.sys) x.city.country.take(2) else "",
    x.city.lon.toFloat, x.city.lat.toFloat, x.weather.map(_._2).getOrElse(""), x.weather.map(_._3).getOrElse(""),
    dec(x.temp, 2), dec(x.feels, 2), dec(x.tmin, 2), dec(x.tmax, 2), x.pressure, x.humidity,
    x.cycle.toInt, dec(x.speed, 2), x.deg, dec(x.gust.getOrElse(0.0), 2), x.clouds,
    if (x.sys) Some((x.dt - 20000) * 1000) else None, if (x.sys) Some((x.dt + 21000) * 1000) else None)

  val Moscow: ZoneId = ZoneId.of("Europe/Moscow")

  /** A Moscow wall-clock timestamp (as the fact table stores it, read in a
    * UTC session) back to the instant it names, in epoch ms.
    */
  def moscowWallToEpochMs(t: java.sql.Timestamp): Long =
    LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).atZone(Moscow).toInstant.toEpochMilli
}
