package graft.perfbench

import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.WeatherHttpSource
import graft.streaming.{ProducerJob, WeatherStreamJob}
import graft.weather.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** What the in-process fetch serves: url → payload, swapped per cycle. */
object FetchBook {
  @volatile var current: Map[String, String] = Map.empty
  val fetch: WeatherHttpSource.Fetch = url =>
    current.getOrElse(url, throw new RuntimeException(s"no payload for $url"))
}

/** One fact row as read back through `Warehouse.readFact`, with the data
  * file that holds it.
  */
final case class FactRow(f: Gen.Fact, eventDate: java.time.LocalDate, eventTime: java.sql.Timestamp,
    month: Int, file: String) {
  def key: (String, Int) = (f.city, f.visibility)
}

object FactRow {
  private def dec(r: Row, i: Int): JBig = r.getDecimal(i)
  private def ts(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getTimestamp(i).getTime)

  def read(df: DataFrame): Seq[FactRow] =
    df.select("city_name", "timezone", "country", "longitude", "latitude", "weather_main",
      "weather_description", "temperature", "feels_like", "temp_min", "temp_max", "pressure",
      "humidity", "visibility", "wind_speed", "wind_degree", "wind_gust", "cloudiness", "sunrise",
      "sunset", "event_date", "event_time", "event_month", "_metadata.file_path").collect().toSeq.map { r =>
      FactRow(Gen.Fact(r.getString(0), r.getInt(1), r.getString(2), r.getFloat(3), r.getFloat(4),
        r.getString(5), r.getString(6), dec(r, 7), dec(r, 8), dec(r, 9), dec(r, 10), r.getInt(11),
        r.getInt(12), r.getInt(13), dec(r, 14), r.getInt(15), dec(r, 16), r.getInt(17), ts(r, 18),
        ts(r, 19)), r.getDate(20).toLocalDate, r.getTimestamp(21), r.getAs[Any](22).toString.toInt,
        new java.net.URI(r.getString(23)).getPath)
    }

  /** A planted fault, applied to the rows read back (tests of the checks). */
  def plant(rows: Seq[FactRow], fault: String): Seq[FactRow] = fault match {
    case "drop_row" => rows.drop(1)
    case "dup_row" => rows :+ rows.head
    case "temp_round" =>
      val i = rows.indexWhere(_.f.temp.scale() == 2)
      val r = rows(i)
      // the row's temperature one cent low, as a wrong rounding leaves it
      val wrong = r.f.temp.subtract(new JBig("0.01"))
      rows.updated(i, r.copy(f = r.f.copy(temp = wrong)))
    case "wrong_month" =>
      val r = rows.head
      rows.updated(0, r.copy(month = if (r.month % 100 == 12) r.month + 89 else r.month + 1))
    case _ => rows
  }

  /** The warehouse-layout checks shared by the ingest and gateway workloads. */
  def checkLayout(r: FactRow, out: Outcome): Unit = {
    val wall = r.eventTime.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
    out.check(r.eventDate == wall, s"${r.key}: event_date ${r.eventDate} is not the date of event_time ${r.eventTime}")
    val m = r.eventDate.getYear * 100 + r.eventDate.getMonthValue
    out.check(r.month == m, s"${r.key}: row of ${r.eventDate} sits in month partition ${r.month}")
  }
}

/** `ingest`: the paper's pipeline, open loop. A generator thread runs
  * `ProducerJob.runCycle` on a fixed schedule against an in-process fetch;
  * `send` hands each Kafka-shaped frame to a source capped at 90 offsets
  * per trigger; `WeatherStreamJob.startCountOrTime` (batch size 90) flushes
  * through `Warehouse.writeFact`. A paced phase below capacity gives the
  * arrival-to-queryable latency, one long backlog drain the throughput.
  */
final class IngestWorkload(spark: SparkSession, a: Args, trace: Trace, out: Outcome, jvmStartMs: Long) {
  import spark.implicits._

  private val dir = s"${a.work}/ingest"
  private val whPath = s"$dir/warehouse"
  private val stagingPath = s"$dir/staging"
  private val ru = if (a.tiny) 9 else 98
  private val malformed = if (a.tiny) 1 else 2
  // A cycle is two triggers and a flush (about 2.5-3.5 s on a shared 4-core
  // box), so a 5 s period keeps the paced phase well below capacity even
  // when the box is slow: a cycle never waits for the one before it.
  private val periodMs = if (a.tiny) 600L else 5000L
  // The first cycles run while the JIT still compiles the trigger path (a
  // first paced cycle took twice as long as the fourth); three warm-up
  // cycles keep that out of the measured phases.
  private val warmCycles = if (a.tiny) 1 else 3
  private val pacedCycles = math.max(3, (a.seconds * 1000L / periodMs).toInt)
  private val drainCycles = if (a.tiny) 2 else math.max(1, a.seconds * 3 / 10)
  private val baseDt = 1760000000L + Gen.int(100000, a.seed, 99)

  private val cities = Gen.cities(a.seed, ru, if (a.tiny) 2 else 6)
  private val ruCities = cities.filter(_.country == "RU")
  private val topicOf: Map[String, String] = ruCities.map(_.name).sorted.zipWithIndex
    .map { case (n, i) => n -> s"weather_topic_${i % 3 + 1}" }.toMap

  private val dueMs = mutable.Map.empty[Long, Long]        // cycle → due time (epoch ms)
  private val cycleMs = mutable.ArrayBuffer.empty[Double]
  private val lateMs = mutable.ArrayBuffer.empty[Double]

  private def readingsOf(cycle: Long): Seq[(Gen.City, Gen.Reading, Boolean)] = {
    val bad = Gen.malformedSet(a.seed, cycle, ruCities.length, malformed)
    cities.zipWithIndex.map { case (c, i) =>
      (c, Gen.reading(a.seed, c, i, cycle, baseDt + cycle * 300), i < ruCities.length && bad(i))
    }
  }
  private def payload(r: Gen.Reading, bad: Boolean) = if (bad) Gen.malformedJson(r) else Gen.json(r)

  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  def run(): Unit = {
    Files.createDirectories(Paths.get(dir))
    val cityList = s"$dir/city_list.json"
    Files.write(Paths.get(cityList), Gen.cityListJson(cities).getBytes(UTF_8))
    val cfg = ProducerJob.Config(cityList, apiKey = "perfbench", baseUrl = "http://owm.invalid/data/2.5/weather")
    trace.logExecutions()
    if (a.trace) spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { progress.add(e.progress); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val source = new CappedMemoryStream[KafkaRec](spark, 90L, partitions = 3)
    val send: DataFrame => Unit = frame =>
      source.addRecords(frame.select("key", "value", "topic").as[KafkaRec].collect().toSeq)
    val (query, batcher) = WeatherStreamJob.startCountOrTime(source.toDF(), whPath,
      s"$dir/checkpoint", stagingPath, batchSize = 90L, trigger = Trigger.ProcessingTime(0L))

    def cycle(c: Long): Unit = {
      FetchBook.current = readingsOf(c).map { case (city, r, bad) =>
        WeatherHttpSource.requestUrl(city.lat, city.lon, cfg.apiKey, cfg.baseUrl) -> payload(r, bad)
      }.toMap
      val t0 = Stats.nowMs
      val n = ProducerJob.runCycle(spark, cfg, FetchBook.fetch, send)
      cycleMs += Stats.nowMs - t0
      if (n != ruCities.length) out.failures += s"cycle $c produced $n frames, expected ${ruCities.length}"
    }
    def settle(): Unit = { query.processAllAvailable(); batcher.flushNow(spark) }

    try {
      // set-up: engine, stream and warm-up cycles through every layer
      for (c <- 0 until warmCycles) { dueMs(c) = System.currentTimeMillis(); cycle(c); settle() }
      cycleMs.clear()
      out.metrics("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      trace.startWindow()

      // paced phase: open loop, one generator thread
      val paced = warmCycles.toLong until (warmCycles + pacedCycles).toLong
      val t0 = System.currentTimeMillis() + 20
      val pacedStart = t0
      paced.zipWithIndex.foreach { case (c, i) =>
        val due = t0 + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += math.max(0L, System.currentTimeMillis() - due).toDouble
        dueMs(c) = due
        cycle(c)
      }
      settle()
      val pacedEnd = System.currentTimeMillis()

      // drain phase: one backlog of Kafka records, consumed as fast as the
      // stream can (about seven triggers of 90 offsets)
      val cycles = paced.end until (paced.end + drainCycles)
      val backlog = cycles.flatMap { c =>
        readingsOf(c).filter(_._1.country == "RU").map { case (city, r, bad) =>
          KafkaRec(city.name.getBytes(UTF_8), payload(r, bad), topicOf(city.name))
        }
      }
      val d0 = System.currentTimeMillis()
      cycles.foreach(c => dueMs(c) = d0)
      source.addRecords(backlog)
      settle()
      val drainMs = System.currentTimeMillis() - d0
      query.stop()
      out.layers ++= trace.sparkMetrics((pacedCycles + drainCycles).toLong * ruCities.length)

      val goodPerCycle = ruCities.length - malformed
      out.attempted = (pacedCycles + drainCycles).toLong * ruCities.length
      val drainRows = drainCycles.toLong * goodPerCycle
      out.metrics("throughput_per_s") = drainRows * 1000.0 / math.max(1L, drainMs)
      out.info("drain_rows") = drainRows.toString
      out.info("drain_ms") = drainMs.toString
      evaluate(paced.toSet, pacedStart, pacedEnd)
    } finally {
      if (query.isActive) query.stop()
    }
  }

  private def evaluate(paced: Set[Long], pacedStart: Long, pacedEnd: Long): Unit = {
    val insert = "InsertIntoHadoopFsRelationCommand"
    val execs = trace.executions(dir)
    val whWrites = execs.filter(e => e.plan.contains(insert) && e.plan.contains(whPath))
    val stageWrites = execs.filter(e => e.plan.contains(insert) && e.plan.contains(s"$stagingPath/delta-"))
    val stageCounts = execs.filter(e => !e.plan.contains(insert) && e.plan.contains(s"$stagingPath/delta-"))
    val whCounts = execs.filter(e => !e.plan.contains(insert) && !e.plan.contains("delta-") &&
      e.plan.contains(stagingPath))
    // The write that holds a row, found from the row's data file alone: the
    // file was last modified while that write ran (writes never overlap, and
    // an append never touches an older file). Its end is the row's
    // queryable time. The slack covers the file system's coarse clock.
    val slackMs = 20L
    val holderOf: Map[String, Option[Exec]] = dataFiles(whPath).map { case (path, _) =>
      val mtime = Files.getLastModifiedTime(Paths.get(path)).toMillis
      path -> whWrites.find(w => w.startMs - slackMs <= mtime && mtime <= w.endMs + slackMs)
    }.toMap
    // the execution that opens a flush: the hot-month count, else the write
    def flushStart(w: Exec): Long =
      whCounts.filter(c => c.startMs <= w.startMs).lastOption.map(_.startMs).getOrElse(w.startMs)

    val read = FactRow.plant(FactRow.read(Warehouse.readFact(spark, whPath)), a.plant)
    val rows =
      if (a.plant != "stamp_late") read
      else read.zipWithIndex.map { case (r, i) =>
        // the first row's ingest stamp moved one second past its write's end
        holderOf.getOrElse(r.file, None).filter(_ => i == 0).map { w =>
          val wall = java.time.Instant.ofEpochMilli(w.endMs + 1000).atZone(Gen.Moscow).toLocalDateTime
          r.copy(eventTime = java.sql.Timestamp.from(wall.toInstant(java.time.ZoneOffset.UTC)))
        }.getOrElse(r)
      }
    // --- correctness: exactly one row per well-formed payload, values derived apart ---
    val expected: Map[(String, Int), Gen.Fact] = dueMs.keys.toSeq.flatMap { c =>
      readingsOf(c).filter { case (city, _, bad) => city.country == "RU" && !bad }
        .map { case (_, r, _) => (r.city.name, r.cycle.toInt) -> Gen.fact(r) }
    }.toMap
    val byKey = rows.groupBy(_.key)
    val missing = expected.keySet -- byKey.keySet
    val extra = byKey.keySet -- expected.keySet
    val dups = byKey.filter(_._2.size > 1).keys
    out.check(missing.isEmpty, s"${missing.size} well-formed payloads have no fact row, e.g. ${missing.take(3)}")
    out.check(extra.isEmpty, s"${extra.size} fact rows match no well-formed payload, e.g. ${extra.take(3)}")
    out.check(dups.isEmpty, s"${dups.size} payloads have more than one fact row, e.g. ${dups.take(3)}")
    val latency = mutable.ArrayBuffer.empty[Double]
    val cycleLatency = mutable.TreeMap.empty[Long, Long]
    val waits = mutable.ArrayBuffer.empty[Double]
    rows.foreach { r =>
      expected.get(r.key).foreach { want =>
        out.check(r.f == want, s"${r.key}: fact row ${r.f} differs from the derivation $want")
      }
      FactRow.checkLayout(r, out)
      val stamp = Gen.moscowWallToEpochMs(r.eventTime)
      val due = dueMs.getOrElse(r.key._2.toLong, Long.MaxValue)
      val holder = holderOf.getOrElse(r.file, None)
      out.check(holder.isDefined, s"${r.key}: its file ${r.file} was written by no warehouse write")
      holder.foreach { w =>
        out.check(due <= stamp && stamp <= w.endMs,
          s"${r.key}: ingest stamp $stamp outside [due $due, queryable ${w.endMs}]")
        if (paced(r.key._2.toLong)) {
          latency += (w.endMs - due).toDouble
          cycleLatency(r.key._2.toLong) = w.endMs - due
        }
        // staged by the first staging write that ends after the stamp
        stageWrites.find(_.endMs >= stamp).foreach(s => waits += (flushStart(w) - s.endMs).toDouble)
      }
    }
    if (latency.nonEmpty) {
      out.metrics("latency_p50_ms") = Stats.q(latency.toSeq, 0.5)
      out.metrics("latency_p90_ms") = Stats.q(latency.toSeq, 0.90)
      out.info("latency_p99_ms") = Stats.q(latency.toSeq, 0.99).toString
    }
    out.info("latency_samples") = latency.size.toString
    out.info("latency_by_cycle_ms") = cycleLatency.values.mkString(",")
    out.info("warehouse_writes") = whWrites.size.toString

    // --- per-layer ---
    out.layers("producer.cycle_ms") = Stats.median(cycleMs.toSeq)
    out.layers("producer.late_ms") = Stats.mean(lateMs.toSeq)
    val files = dataFiles(whPath)
    out.layers("warehouse.files_per_write") = files.size.toDouble / math.max(1, whWrites.size)
    out.layers("warehouse.bytes_per_row") = files.map(_._2).sum.toDouble / math.max(1, rows.size)
    out.layers("batcher.rows_per_flush") = rows.size.toDouble / math.max(1, whWrites.size)
    if (a.trace) {
      val flushes = whWrites.map { w =>
        val cnt = whCounts.filter(_.startMs <= w.startMs).lastOption
        (w.endMs - flushStart(w)).toDouble ->
          (trace.jobsOf(w.id) + cnt.map(c => trace.jobsOf(c.id)).getOrElse(0L)).toDouble
      }
      out.layers("warehouse.write_ms") = Stats.median(flushes.map(_._1))
      out.layers("warehouse.jobs_per_write") = Stats.mean(flushes.map(_._2))
      out.layers("batcher.stage_ms") =
        (stageWrites ++ stageCounts).map(_.durMs).sum.toDouble / math.max(1, stageWrites.size)
      out.layers("batcher.wait_ms") = Stats.median(waits.toSeq)
      def at(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
      // triggers of the measured phases only, not the warm-up cycles
      val ps = progress.asScala.toSeq.filter(p => p.numInputRows > 0 && at(p) >= pacedStart)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      out.layers("stream.trigger_ms") = Stats.mean(ps.map(dur(_, "triggerExecution")))
      out.info("triggers") = ps.map(p => s"${p.numInputRows}:${dur(p, "addBatch").toLong}/${dur(p, "triggerExecution").toLong}").mkString(",")
      out.layers("stream.add_batch_ms") = Stats.mean(ps.map(dur(_, "addBatch")))
      out.layers("stream.source_ms") = Stats.mean(ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch")))
      out.layers("stream.planning_ms") = Stats.mean(ps.map(dur(_, "queryPlanning")))
      out.layers("stream.commit_ms") = Stats.mean(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
      out.layers("stream.rows_per_batch") = Stats.mean(ps.map(_.numInputRows.toDouble))
      val pacedPs = ps.filter(at(_) <= pacedEnd)
      out.layers("stream.backlog_rows_max") = pacedPs.flatMap(_.sources.headOption)
        .filter(s => s.latestOffset != null && s.endOffset != null)
        .map(s => (s.latestOffset.toLong - s.endOffset.toLong).toDouble).foldLeft(0.0)(math.max)
    }
  }

  /** (path, bytes) of every data file under a warehouse directory. */
  private def dataFiles(root: String): Seq[(String, Long)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toSeq
}
