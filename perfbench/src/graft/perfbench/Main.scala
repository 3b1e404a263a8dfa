package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    size: String, cores: Int, work: String, plant: String) {
  def tiny: Boolean = size == "tiny"
}

/** What a workload hands back: operation counts, the end-to-end metrics,
  * workload-specific per-layer metrics, and the check failures.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, String]
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

object Main {

  /** End-to-end metrics (every workload reports all of them). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m.getOrElse("size", "full"), m.getOrElse("cores", "4").toInt, m("work"),
      m.getOrElse("plant", ""))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .config("spark.sql.streaming.stopTimeout", "60000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Materialize.quietReleaseWarnings()
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val trace = new Trace(spark, a.trace)
    val out = new Outcome
    val errors = mutable.ArrayBuffer.empty[String]
    try {
      a.workload match {
        case "ingest" => new IngestWorkload(spark, a, trace, out, jvmStartMs).run()
        case "suite" => new SuiteWorkload(spark, a, trace, out, jvmStartMs).run()
        case "gateway" => new GatewayWorkload(spark, a, trace, out, jvmStartMs).run()
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    } catch {
      case e: Throwable =>
        errors += e.toString
        e.printStackTrace()
    }
    out.metrics.getOrElseUpdate("peak_rss_mb", Stats.peakRssMb())
    val traced: Map[String, Double] =
      if (a.trace) Layers.complete(out.layers.toMap) else Map.empty
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_cores" -> a.cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version))
    try spark.stop() catch { case _: Throwable => () }
    val ok = errors.isEmpty && out.failures.isEmpty &&
      EndToEnd.forall { case (k, _) => out.metrics.get(k).exists(v => v > 0 && !v.isNaN) }
    val missing = EndToEnd.map(_._1).filterNot(out.metrics.contains)
    val failures = out.failures.toSeq ++ errors.map("error: " + _) ++
      missing.map("metric not measured: " + _)
    def metricJson(m: Iterable[(String, Double)], unit: String => String) =
      m.map { case (k, v) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(unit(k))}}" }
        .mkString("{", ",", "}")
    val e2eUnits = EndToEnd.toMap
    val e2e = EndToEnd.flatMap { case (k, _) => out.metrics.get(k).map(k -> _) }
    val rec =
      s"""{"correct":$ok,"attempted":${out.attempted},"failed":${out.failed},""" +
        s""""metrics":${metricJson(e2e, e2eUnits)},""" +
        s""""metrics_traced":${metricJson(traced.toSeq.sortBy(_._1), Layers.unit)},""" +
        s""""failures":${failures.take(50).map(Json.str).mkString("[", ",", "]")},""" +
        s""""info":${out.info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
        s""""env":${env.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(a.work, "record.json"), rec.getBytes(UTF_8))
    // non-daemon threads of the engine must not keep the JVM alive
    System.exit(0)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros().toPlainString
}

/** Quantiles and small helpers shared by the workloads. */
object Stats {
  /** Nearest-rank quantile of a non-empty sample. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else q(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  def nowMs: Double = System.nanoTime() / 1e6

  /** The process's peak resident set size so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
