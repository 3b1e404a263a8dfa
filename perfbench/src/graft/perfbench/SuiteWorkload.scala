package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Materialize, QuerySpec, SparkEntry, operators => op}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite`: the named queries, one client, sequential, with `graft.Bench`'s
  * method (noop sink, `Materialize.releaseAll` after each query, one
  * warm-up query). One light query per module of `SparkEntry.specs` (see
  * [[SuiteWorkload.Chosen]]) runs one cold pass, then warm passes until the
  * run's seconds are spent. Outputs are checked after the timed passes.
  * Run on its own (`--workload suite`) it reports end-to-end metrics too;
  * the gateway workload's traced mode runs its passes for the per-layer
  * `suite.*` metrics.
  */
final class SuiteWorkload(spark: SparkSession, a: Args, trace: Trace, out: Outcome, jvmStartMs: Long) {

  private val fixture = s"${a.work}/fixture"
  private val outDir = s"${a.work}/suite_out"

  /** `SparkEntry.specs`, module by module, in its order. */
  private val modules: Seq[(String, Seq[QuerySpec])] = Layers.SuiteModules.zip(Seq(
    op.Relational.specs, op.TextAnalysis.specs, op.Dedup.specs, op.Similarity.specs,
    op.EventsWindows.specs, op.Behavioral.specs, op.WeatherOps.specs, op.MultimodalOps.specs,
    op.SqlSurface.specs, op.Extras.specs, op.TrainPipe.specs, op.CorpusClean.specs,
    op.CorpusOps.specs, op.Bpe.specs, op.Analytics.specs, op.Fuzzy.specs))

  private def exec(sp: QuerySpec): Unit =
    try {
      if (a.plant == "suite_throw" && sp.name == chosen.last._2.name)
        throw new IllegalStateException("planted query failure")
      sp.fn(spark, fixture).write.format("noop").mode("overwrite").save()
    }
    finally {
      Materialize.releaseAll(spark)
      Materialize.reclaimDeadBroadcasts()
      ()
    }

  /** Seconds taken by one query; -1 when it failed. */
  private def timed(sp: QuerySpec, errors: mutable.ArrayBuffer[String]): Double = {
    val t0 = System.nanoTime()
    try { exec(sp); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable => errors += s"${sp.name}: $e"; -1.0 }
  }

  /** The query of each module, in module order. */
  private lazy val chosen: Seq[(String, QuerySpec)] = {
    val names = modules.flatMap(_._2.map(_.name))
    require(names == SparkEntry.specs.map(_.name),
      "the module list no longer matches SparkEntry.specs; update SuiteWorkload.modules")
    modules.map { case (m, ss) =>
      m -> ss.find(_.name == SuiteWorkload.Chosen(m)).getOrElse(
        throw new IllegalStateException(s"query ${SuiteWorkload.Chosen(m)} is no longer in module $m"))
    }.take(if (a.tiny) 3 else modules.size)
  }

  private val errors = mutable.ArrayBuffer.empty[String]

  /** Fixture and the warm-up query (set-up). */
  def prepare(): Unit = {
    trace.span("fixture")(FixtureGen.write(spark, a.seed, fixture, factor = 1))
    // warm-up: one query, as graft.Bench does
    try exec(chosen.head._2) catch { case e: Throwable => out.failures += s"warm-up: $e" }
  }

  /** One cold pass, then whole warm passes until `seconds` have passed
    * since the cold pass began (at least one). Records the suite's
    * per-layer metrics and returns the warm query times (ms) and the
    * warm passes' wall time (s). A query that fails is counted in
    * `failed`, named in the failures, and its module's metrics read NaN.
    */
  def passes(seconds: Int): (Seq[Double], Double) = {
    val c0 = System.nanoTime()
    val cold = chosen.map { case (m, sp) => m -> timed(sp, errors) }
    val warm = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val w0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - c0) / 1e9 < seconds)
      warm += chosen.map { case (m, sp) => m -> timed(sp, errors) }
    val warmWall = (System.nanoTime() - w0) / 1e9
    out.attempted += chosen.size.toLong * (1 + warm.size)
    out.failed += (cold ++ warm.flatten).count(_._2 < 0).toLong
    out.info("warm_passes") = warm.size.toString
    out.info("queries") = chosen.map(_._2.name).mkString(",")
    errors.distinct.foreach(e => out.failures += s"suite query failed: $e")
    // a time of a pass with a failed query is NaN, never a fast 0
    def total(ts: Seq[Double]): Double = if (ts.exists(_ < 0)) Double.NaN else ts.sum
    chosen.zipWithIndex.foreach { case ((m, _), i) =>
      val ws = warm.map(_(i)._2).toSeq
      out.layers(s"suite.${m}_cold_s") = total(Seq(cold(i)._2))
      out.layers(s"suite.${m}_warm_s") = if (ws.exists(_ < 0)) Double.NaN else Stats.median(ws)
    }
    out.layers("suite.cold_s") = total(cold.map(_._2))
    out.layers("suite.warm_s") = Stats.median(warm.map(p => total(p.map(_._2))).toSeq)
    val perQuery = chosen.indices.map(i => out.layers(s"suite.${chosen(i)._1}_warm_s"))
    out.layers("suite.warm_geomean_ms") = math.exp(perQuery.map(s => math.log(s * 1000)).sum / perQuery.size)
    (warm.flatten.filter(_._2 >= 0).map(_._2 * 1000).toSeq, warmWall)
  }

  def run(): Unit = {
    prepare()
    out.metrics("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    trace.startWindow()
    val (ok, warmWall) = passes(a.seconds)
    out.layers ++= trace.sparkMetrics(out.attempted)
    out.metrics("throughput_per_s") = ok.size / warmWall
    if (ok.nonEmpty) {
      out.metrics("latency_p50_ms") = Stats.q(ok, 0.5)
      out.metrics("latency_p90_ms") = Stats.q(ok, 0.90)
    }
    out.info("fixture_ms") = trace.spanValues("fixture").sum.toString
    checkOutputs()
  }

  /** The checks, outside the timed passes: outputs go to the oracle compare
    * (perfbench/run.py), queries without oracle SQL must return rows.
    */
  def checkOutputs(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val oracle = chosen.flatMap { case (_, sp) =>
      val df: DataFrame = sp.fn(spark, fixture)
      try sp.oracle match {
        case Some(sql) =>
          planted(df, sp.name).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${sp.name}")
          Some(sp.name -> sql)
        case None =>
          val n = df.count()
          out.check(n > 0, s"${sp.name} (no oracle SQL) returned no rows")
          None
      } finally Materialize.releaseAll(spark)
    }
    val json = oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.write(Paths.get(outDir, "oracle_sql.json"), json.getBytes(UTF_8))
  }

  /** A planted fault for the tests of the checks: one output row lost. */
  private def planted(df: DataFrame, name: String): DataFrame =
    if (a.plant == "suite_drop_row" && name == SuiteWorkload.Chosen(Layers.SuiteModules.head)) {
      val n = df.count()
      df.limit(math.max(0, n.toInt - 1))
    } else df
}

object SuiteWorkload {
  /** The query run for each module: a light one (well under a second warm
    * on the sf0.001 fixture), so that one cold pass over all sixteen
    * modules fits a run. Light queries are dominated by per-query overhead
    * (planning, job scheduling, codegen), which is what the suite's
    * end-to-end numbers are bound by.
    */
  val Chosen: Map[String, String] = Map(
    "relational" -> "q27_point_lookup", "text_analysis" -> "q35a_quality_filter",
    "dedup" -> "q35_dedup_exact", "similarity" -> "q149_embedding_health",
    "events_windows" -> "q60_asof_forward", "behavioral" -> "q93_type_transitions",
    "weather_ops" -> "q45_weather_flatten", "multimodal_ops" -> "q111_frame_sample",
    "sql_surface" -> "q48_sql_subqueries", "extras" -> "q51_array_hof",
    "train_pipe" -> "q66_stratified_sample", "corpus_clean" -> "q64_corpus_clean",
    "corpus_ops" -> "q107_freq_items", "bpe" -> "q140_bpe_encode",
    "analytics" -> "q117_unpivot_long", "fuzzy" -> "q121_fuzzy_blocking")
}
