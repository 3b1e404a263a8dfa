package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic fixture with the schema of the query suite's tables
  * (FIXTURES.md §A): a TPC-H-like star, an events stream table, a text
  * corpus with planted exact and near duplicates, and 64-d embeddings.
  * `factor` 1 gives the sf0.001 row counts, 10 the sf0.01 ones. Every value
  * is a hash of (seed, table, row), so a seed always gives the same tables.
  */
object FixtureGen {

  val Vocab: Seq[String] = Seq("the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark", "group",
    "query", "row", "data", "filter", "customer", "line", "value", "agg", "vector", "column")

  def write(spark: SparkSession, seed: Long, dir: String, factor: Int,
      only: Set[String] = Set.empty): Unit = {
    def hv(salt: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def mod(salt: String, n: Long, cs: Column*): Column = pmod(hv(salt, cs: _*), lit(n))
    def cents(salt: String, lo: Double, span: Long, cs: Column*): Column =
      (lit(lo) + mod(salt, span * 100, cs: _*).cast(DoubleType) / 100.0)
    def pick(salt: String, xs: Seq[String], cs: Column*): Column =
      element_at(array(xs.map(lit): _*), (mod(salt, xs.size.toLong, cs: _*) + 1).cast(IntegerType))
    def day(salt: String, from: String, days: Long, cs: Column*): Column =
      date_add(lit(from).cast(DateType), mod(salt, days, cs: _*).cast(IntegerType))
        .cast(TimestampType).cast(TimestampNTZType)
    def out(name: String, df: DataFrame): Unit =
      if (only.isEmpty || only(name))
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val nCust = 150L * factor; val nSupp = 10L * factor; val nPart = 200L * factor
    val nOrd = 1500L * factor; val nLine = 6000L * factor; val nEv = 1000L * factor
    val nDoc = 500L * factor

    out("region", spark.range(5).select(id.cast(IntegerType).as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast(IntegerType)).as("r_name")))
    out("nation", spark.range(25).select(id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id.cast(StringType)).as("n_name"), (id % 5).cast(IntegerType).as("n_regionkey")))
    out("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), mod("cn", 25, id).cast(IntegerType).as("c_nationkey"),
      cents("cb", -999.99, 11000, id).as("c_acctbal"),
      pick("cs", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment")))
    out("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), mod("sn", 25, id).cast(IntegerType).as("s_nationkey"),
      cents("sb", -999.99, 11000, id).as("s_acctbal")))
    out("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick("pa", Seq("cold", "small", "large", "shiny", "blue", "red"), id),
        pick("pn", Seq("widget", "bolt", "gear", "nut", "spring", "valve"), id)).as("p_name"),
      concat(lit("Brand#"), (mod("pb", 25, id) + 1).cast(StringType)).as("p_brand"),
      pick("pt", Seq("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"), id).as("p_type"),
      (mod("ps", 50, id) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + (id % 1000).cast(DoubleType) / 10.0).as("p_retailprice")))
    out("orders", spark.range(nOrd).select(id.as("o_orderkey"), mod("oc", nCust, id).as("o_custkey"),
      pick("os", Seq("F", "O", "P"), id).as("o_orderstatus"), cents("ot", 1000.0, 400000, id).as("o_totalprice"),
      day("od", "1995-01-01", 2404, id).as("o_orderdate"),
      pick("op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority")))
    out("lineitem", spark.range(nLine).select((id / 4).cast(LongType).as("l_orderkey"),
      mod("lp", nPart, id).as("l_partkey"), mod("ls", nSupp, id).as("l_suppkey"),
      (id % 4 + 1).cast(IntegerType).as("l_linenumber"), (mod("lq", 50, id) + 1).cast(DoubleType).as("l_quantity"),
      cents("le", 900.0, 100000, id).as("l_extendedprice"),
      (mod("ld", 11, id).cast(DoubleType) / 100.0).as("l_discount"),
      (mod("lt", 9, id).cast(DoubleType) / 100.0).as("l_tax"),
      pick("lr", Seq("A", "N", "R"), id).as("l_returnflag"), pick("ll", Seq("O", "F"), id).as("l_linestatus"),
      day("lsd", "1995-01-02", 2498, id).as("l_shipdate")))
    val evSpanUs = 30L * 86400L * 1000000L
    out("events", spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * (evSpanUs / nEv) + mod("et", evSpanUs / nEv, id))
        .cast(TimestampNTZType).as("ts"),
      mod("eu", 15L * factor, id).as("user_id"),
      pick("ey", Seq("view", "click", "purchase", "signup", "error"), id).as("event_type"),
      cents("ev", 0.0, 200, id).as("value"),
      format_string("{\"k\": %d}", mod("ek", 100, id)).as("props")))

    // corpus: 15 % of documents copy an earlier one, half of those with one
    // token swapped (near duplicates)
    val vocab = array(Vocab.map(lit): _*)
    val dup = mod("dd", 100, id) < 15 && id > 0
    val src = when(dup, mod("ds", Long.MaxValue, id) % id).otherwise(id)
    val len = mod("dl", 90, col("src")) + 8
    val swapAt = mod("dw", 1000, col("doc_id")) % col("len")
    val tokens = transform(sequence(lit(0L), col("len") - 1), j =>
      when(col("near") && j === col("swap_at"), element_at(vocab, (mod("dx", Vocab.size.toLong, col("doc_id")) + 1).cast(IntegerType)))
        .otherwise(element_at(vocab, (mod("dt", Vocab.size.toLong, col("src"), j) + 1).cast(IntegerType))))
    out("documents", spark.range(nDoc).select(id.as("doc_id"), src.as("src"), (dup && mod("dn", 2, id) === 0).as("near"))
      .withColumn("len", len).withColumn("swap_at", swapAt)
      .select(col("doc_id"), array_join(tokens, " ").as("text"),
        pick("la", Seq("en", "de", "fr", "es", "zh"), col("doc_id")).as("lang"),
        concat(lit("src"), mod("so", 20, col("doc_id")).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType)))
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((mod("ev", 2000001L, col("src"), j) - 1000000L).cast(DoubleType) / 4.0e6 +
        when(col("vec_id") =!= col("src"), (mod("ej", 2001L, col("vec_id"), j) - 1000L).cast(DoubleType) / 1.0e5)
          .otherwise(lit(0.0))).cast(FloatType))
    out("embeddings", spark.range(nDoc).select(id.as("vec_id"), src.as("src"))
      .select(col("vec_id"), emb.as("embedding"), mod("lb", 10, col("vec_id")).cast(IntegerType).as("label")))
  }
}
