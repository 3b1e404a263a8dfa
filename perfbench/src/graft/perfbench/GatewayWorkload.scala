package graft.perfbench

import java.math.{BigDecimal => JBig}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.{IndexStore, SqlGateway, Tables}
import graft.streaming.IndexMaintenance
import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `gateway`: the interactive read path, closed loop. Set-up writes a year
  * of hourly readings for the city dimension through `WeatherFlatten.apply`
  * and `Warehouse.writeFact` (the reading time as the ingest time), serves
  * `Warehouse.readFact` as the view `weather_fact`, bootstraps the tf and
  * IVF index stores over a seeded sf0.01 corpus and starts `SqlGateway`.
  * Then `nproc` clients (at most 4) each send seeded rounds of a fixed mix
  * of SQL point reads, SQL range aggregates, `/search?doc_id=` and
  * `/ann?doc_id=` until the run's seconds have passed; a request in flight
  * at the deadline is completed and counted. Every answer is checked after
  * the window. The traced mode then runs the query suite's passes (one
  * cold, one warm) for the per-layer `suite.*` metrics, and checks their
  * outputs as the `suite` workload does.
  */
final class GatewayWorkload(spark: SparkSession, a: Args, trace: Trace, out: Outcome, jvmStartMs: Long) {
  import spark.implicits._

  private val dir = s"${a.work}/gateway"
  private val whPath = s"$dir/warehouse"
  private val corpus = s"${a.work}/corpus"
  private val nCities = if (a.tiny) 3 else 12
  private val days = if (a.tiny) 40 else 365
  private val appends = if (a.tiny) 2 else 4
  private val corpusFactor = if (a.tiny) 1 else 2
  private val k = 10
  private val yearStart: Long = LocalDate.of(2025, 1, 1).atStartOfDay(Gen.Moscow).toEpochSecond
  private val cities = Gen.cities(a.seed, nCities, 0)
  private val hours = days * 24

  private def readingAt(ci: Int, hour: Int): Gen.Reading =
    Gen.reading(a.seed, cities(ci), ci, hour, yearStart + hour * 3600L)

  // ---- set-up ----

  private def writeHistory(): Unit = {
    val seed = a.seed; val cs = cities; val ys = yearStart
    val per = (hours + appends - 1) / appends
    for (p <- 0 until appends) {
      val lo = p * per; val hi = math.min(hours, lo + per)
      val raw = spark.range(lo.toLong * cs.size, hi.toLong * cs.size, 1, a.cores).mapPartitions { ids =>
        ids.map { id =>
          val ci = (id % cs.size).toInt; val hour = (id / cs.size).toInt
          val r = Gen.reading(seed, cs(ci), ci, hour, ys + hour * 3600L)
          (Gen.json(r), new java.sql.Timestamp(r.dt * 1000))
        }
      }.toDF("value", "reading_ts")
      trace.span("warehouse.write")(
        Warehouse.writeFact(WeatherFlatten.apply(raw, ingestTime = col("reading_ts")), whPath))
    }
  }

  private var nDocs = 0L
  private var docIds: Set[Long] = Set.empty
  private val emb = mutable.Map.empty[Long, Array[Long]]

  private def bootstrapIndexes(): Unit = {
    trace.span("fixture")(FixtureGen.write(spark, a.seed, corpus, corpusFactor, only = Set("documents", "embeddings")))
    spark.conf.set(IndexStore.DirConf, s"${a.work}/index")
    val docs = Tables.load(spark, corpus, "documents")
    val e = Tables.load(spark, corpus, "embeddings")
    trace.span("index.bootstrap") {
      trace.span("index.tf")(IndexMaintenance.bootstrapTfStore(spark, corpus, docs))
      trace.span("index.ivf")(IndexMaintenance.bootstrapIvfAssignments(spark, corpus, e, maintainPq = false))
    }
    // the raw embeddings, quantized as the exact dot quantizes them
    e.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().foreach { case (id, v) =>
      emb(id) = v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
    }
    docIds = docs.select("doc_id").as[Long].collect().toSet
    nDocs = docIds.size.toLong
  }

  // ---- requests ----

  private sealed trait Req { def route: String }
  private final case class Point(ci: Int, day: Int) extends Req { val route = "sql_point" }
  private final case class CityMonth(ci: Int, month: Int) extends Req { val route = "sql_range" }
  private final case class AllDay(day: Int) extends Req { val route = "sql_range" }
  private final case class Search(doc: Long) extends Req { val route = "search" }
  private final case class Ann(doc: Long) extends Req { val route = "ann" }

  private def date(day: Int): LocalDate = LocalDate.of(2025, 1, 1).plusDays(day.toLong)
  private def monthOf(d: LocalDate): Int = d.getYear * 100 + d.getMonthValue
  private def months: Int = monthOf(date(days - 1)) - 202500

  /** One client's round `n`: a fixed mix of twelve requests (four point
    * reads, two range aggregates of each kind, two searches, two ann
    * lookups) in a seeded order, with seeded parameters, so every run
    * sends the same mix.
    */
  private def round(client: Int, n: Long): Seq[Req] = {
    def x(i: Int) = Gen.h(a.seed, 71, client, n, i) >>> 1
    val kinds = Seq(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4)
    kinds.zipWithIndex.map { case (kind, i) =>
      val v = x(i)
      kind match {
        case 0 => Point((v % nCities).toInt, ((v / nCities) % days).toInt)
        case 1 => CityMonth((v % nCities).toInt, 1 + ((v / nCities) % months).toInt)
        case 2 => AllDay((v % days).toInt)
        case 3 => Search(v % nDocs)
        case _ => Ann(v % nDocs)
      }
    }.zipWithIndex.sortBy { case (_, i) => Gen.h(a.seed, 72, client, n, i) }.map(_._1)
  }

  private def sql(q: Req): String = q match {
    case Point(ci, d) =>
      s"""SELECT city_name, event_time, temperature, humidity, wind_gust, weather_main FROM weather_fact
         |WHERE event_month = ${monthOf(date(d))} AND event_date = DATE '${date(d)}'
         |AND city_name = '${cities(ci).name}' ORDER BY event_time""".stripMargin
    case CityMonth(ci, m) =>
      s"""SELECT count(*) AS n, sum(temperature) AS temp_sum, min(temp_min) AS temp_min,
         |max(temp_max) AS temp_max, sum(humidity) AS humidity_sum FROM weather_fact
         |WHERE event_month = ${202500 + m} AND city_name = '${cities(ci).name}'""".stripMargin
    case AllDay(d) =>
      s"""SELECT city_name, count(*) AS n, sum(temperature) AS temp_sum, max(wind_speed) AS wind_max
         |FROM weather_fact WHERE event_month = ${monthOf(date(d))} AND event_date = DATE '${date(d)}'
         |GROUP BY city_name ORDER BY city_name""".stripMargin
    case _ => ""
  }

  private final case class Resp(client: Int, req: Req, ms: Double, status: Int, body: String)

  private def send(http: HttpClient, port: Int, q: Req): (Int, String) = {
    val b = q match {
      case Search(d) => HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search?doc_id=$d&k=$k")).GET()
      case Ann(d) => HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ann?doc_id=$d&k=$k")).GET()
      case _ => HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?format=JSONEachRow"))
        .POST(HttpRequest.BodyPublishers.ofString(sql(q), UTF_8))
    }
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode(), r.body())
  }

  def run(): Unit = {
    trace.span("setup.history")(writeHistory())
    Warehouse.readFact(spark, whPath).createOrReplaceTempView("weather_fact")
    bootstrapIndexes()
    val gw = SqlGateway.start(spark, corpusDir = corpus)
    val clients = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val https = (0 until clients).map(_ => HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
    try {
      // warm-up: every request kind once
      Seq(Point(0, 0), CityMonth(0, 1), AllDay(0), Search(0), Ann(0)).foreach { q =>
        val (st, _) = send(https.head, gw.port, q)
        out.check(st == 200, s"warm-up $q answered $st")
      }
      out.metrics("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      trace.watchScans(whPath)
      trace.startWindow()
      val t0 = System.nanoTime()
      val deadline = t0 + a.seconds * 1000000000L
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Resp]()
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          val reqs = Iterator.iterate(0L)(_ + 1).flatMap(round(c, _))
          while (System.nanoTime() < deadline) {
            val q = reqs.next()
            val s0 = System.nanoTime()
            val (st, body) =
              try send(https(c), gw.port, q) catch { case e: Exception => (-1, e.toString) }
            results.add(Resp(c, q, (System.nanoTime() - s0) / 1e6, st, body))
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val rs = results.asScala.toSeq
      out.attempted = rs.size.toLong
      out.layers ++= trace.sparkMetrics(out.attempted)
      out.failed = rs.count(_.status != 200).toLong
      val lat = rs.filter(_.status == 200).map(_.ms)
      out.metrics("throughput_per_s") = lat.size / wall
      if (lat.nonEmpty) {
        out.metrics("latency_p50_ms") = Stats.q(lat, 0.5)
        out.metrics("latency_p90_ms") = Stats.q(lat, 0.90)
        out.info("latency_p99_ms") = Stats.q(lat, 0.99).toString
      }
      out.info("requests") = rs.size.toString
      Seq("setup.history", "index.tf", "index.ivf", "fixture").foreach(n => out.info(n + "_ms") = trace.spanValues(n).sum.toString)
      out.info("clients") = clients.toString
      if (a.trace) {
        val (files, bytes) = trace.scanTotals
        val nSql = math.max(1, rs.count(_.req.route.startsWith("sql")))
        out.layers("warehouse.scan_files_per_request") = files.toDouble / nSql
        out.layers("warehouse.scan_bytes_per_request") = bytes.toDouble / nSql
        for (route <- Seq("sql_point", "sql_range", "search", "ann"))
          out.layers(s"gateway.${route}_ms") = Stats.median(rs.filter(_.req.route == route).map(_.ms))
        out.layers("warehouse.write_ms") = Stats.median(trace.spanValues("warehouse.write"))
        out.layers("index.bootstrap_ms") = trace.spanValues("index.bootstrap").sum
      }
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(whPath)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).map(java.nio.file.Files.size(_)).toSeq
      out.layers("warehouse.files_per_write") = files.size.toDouble / appends
      out.layers("warehouse.bytes_per_row") = files.sum.toDouble / (hours.toLong * nCities)
      verify(rs)
      out.metrics("peak_rss_mb") = Stats.peakRssMb()
      if (a.trace) {
        // per-layer only: the suite's passes, on the warmed engine; a query
        // that fails fails the run, and the outputs are checked
        val suite = new Outcome
        val sw = new SuiteWorkload(spark, a, trace, suite, jvmStartMs)
        sw.prepare()
        sw.passes(0)
        sw.checkOutputs()
        out.layers ++= suite.layers
        out.attempted += suite.attempted
        out.failed += suite.failed
        out.failures ++= suite.failures
        suite.info.foreach { case (k, v) => out.info(s"suite_$k") = v }
      }
    } finally gw.stop()
  }

  // ---- checks, made apart from the program ----

  private val mapper = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private def rows(body: String): Seq[JsonNode] =
    body.split("\n").toSeq.filter(_.trim.nonEmpty).map(l => mapper.readTree(l))
  private def dec(n: JsonNode): JBig = n.decimalValue().stripTrailingZeros()
  private def sameDec(n: JsonNode, want: JBig): Boolean = dec(n).compareTo(want) == 0

  private def readingsOn(ci: Int, d: LocalDate): Seq[Gen.Reading] = {
    val h0 = (d.toEpochDay - LocalDate.of(2025, 1, 1).toEpochDay).toInt * 24
    (h0 until h0 + 24).filter(_ < hours).map(readingAt(ci, _))
  }

  /** A planted fault for the tests of the checks. */
  private def plant(rs: Seq[Resp]): Seq[Resp] = {
    def first(p: Resp => Boolean)(f: Resp => Resp): Seq[Resp] = {
      val i = rs.indexWhere(r => r.status == 200 && p(r))
      if (i < 0) rs else rs.updated(i, f(rs(i)))
    }
    a.plant match {
      case "ann_sim" => first(_.req.isInstanceOf[Ann]) { r =>
        val n = rows(r.body).head.get("sim").asDouble()
        r.copy(body = r.body.replaceFirst("\"sim\":[^,}]+",
          "\"sim\":" + new JBig(n).add(new JBig("1e-12")).doubleValue()))
      }
      case "sql_agg" => first(_.req.isInstanceOf[CityMonth]) { r =>
        val n = rows(r.body).head.get("temp_sum").decimalValue()
        r.copy(body = r.body.replaceFirst("\"temp_sum\":[^,}]+", "\"temp_sum\":" + n.add(new JBig("0.01"))))
      }
      case _ => rs
    }
  }

  private def verify(all: Seq[Resp]): Unit = {
    val rs = plant(all)
    rs.filter(_.status != 200).take(3).foreach(r => out.failures += s"${r.req} answered ${r.status}: ${r.body.take(200)}")
    rs.filter(_.status == 200).foreach { r =>
      val got = rows(r.body)
      def fail(msg: String): Unit = out.failures += s"${r.req}: $msg"
      r.req match {
        case Point(ci, d) =>
          val want = readingsOn(ci, date(d)).map(Gen.fact)
          if (got.size != want.size) fail(s"${got.size} rows, expected ${want.size}")
          else got.zip(want).foreach { case (g, w) =>
            if (!sameDec(g.get("temperature"), w.temp.stripTrailingZeros()) || g.get("humidity").asInt != w.humidity ||
              !sameDec(g.get("wind_gust"), w.gust.stripTrailingZeros()) || g.get("weather_main").asText != w.main ||
              g.get("city_name").asText != w.city)
              fail(s"row $g differs from reading $w")
          }
        case CityMonth(ci, m) =>
          val first = LocalDate.of(2025, m, 1)
          val want = (0 until first.lengthOfMonth).flatMap(i => readingsOn(ci, first.plusDays(i.toLong))).map(Gen.fact)
          val g = got.headOption
          if (g.isEmpty || g.get.get("n").asLong != want.size ||
            !sameDec(g.get.get("temp_sum"), want.map(_.temp).foldLeft(JBig.ZERO)(_ add _).stripTrailingZeros()) ||
            !sameDec(g.get.get("temp_min"), want.map(_.tmin).min.stripTrailingZeros()) ||
            !sameDec(g.get.get("temp_max"), want.map(_.tmax).max.stripTrailingZeros()) ||
            g.get.get("humidity_sum").asLong != want.map(_.humidity.toLong).sum)
            fail(s"aggregate ${got.headOption} differs from the readings' (n=${want.size})")
        case AllDay(d) =>
          val want = cities.indices.map(ci => ci -> readingsOn(ci, date(d)).map(Gen.fact))
            .filter(_._2.nonEmpty).sortBy(x => cities(x._1).name)
          if (got.size != want.size) fail(s"${got.size} city rows, expected ${want.size}")
          else got.zip(want).foreach { case (g, (ci, w)) =>
            if (g.get("city_name").asText != cities(ci).name || g.get("n").asLong != w.size ||
              !sameDec(g.get("temp_sum"), w.map(_.temp).foldLeft(JBig.ZERO)(_ add _).stripTrailingZeros()) ||
              !sameDec(g.get("wind_max"), w.map(_.speed).max.stripTrailingZeros()))
              fail(s"row $g differs from the readings of ${cities(ci).name}")
          }
        case Search(doc) =>
          val ranks = got.map(_.get("rk").asInt)
          val scores = got.map(_.get("score").decimalValue())
          val ids = got.map(_.get("doc_id").asLong)
          if (got.size != k || ranks != (1 to k) || scores.zip(scores.drop(1)).exists { case (x, y) => x.compareTo(y) < 0 } ||
            !ids.forall(docIds) || ids.distinct.size != ids.size || !got.forall(_.get("q_id").asLong == doc))
            fail(s"search answer is not k=$k ranked rows over existing docs: ${r.body.take(300)}")
        case Ann(doc) =>
          val q = emb(doc)
          val sims = got.map(_.get("sim").asDouble)
          val exact = got.map { g =>
            val v = emb(g.get("neighbor_id").asLong)
            var s = 0L; var i = 0
            while (i < v.length) { s += q(i) * v(i); i += 1 }
            JBig.valueOf(s, 12).doubleValue()
          }
          if (got.size != k || got.map(_.get("rk").asInt) != (1 to k) || sims != exact ||
            sims.zip(sims.drop(1)).exists { case (x, y) => x < y } || !got.forall(_.get("q_id").asLong == doc))
            fail(s"ann similarities ${sims.take(3)} are not the exact dots ${exact.take(3)} in order")
      }
    }
    val checked = rs.count(_.status == 200)
    out.info("checked_responses") = checked.toString
  }
}
