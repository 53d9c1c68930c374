package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.queries.{AnalyticsQueries, BatchQueries, CurationQueries, GeoQueries, IoQueries, LlmQueries, SessionGateQueries, StatsQueries, StreamChainGateQueries, StreamGateQueries, TpchQueries, TriggerGateQueries, WarehouseQueries, WebQueries, WindowQueries}
import graft.queries.QueryUtil._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets one entry in `queries`
  * plus (where SQL-expressible) a DuckDB oracle in `oracleSql`. Hash-parity
  * rules (BASELINE.md): explicit ORDER BY everywhere; double aggregates go
  * through exact DECIMAL sums and deterministic double division so Spark and
  * DuckDB produce bit-identical doubles regardless of float summation order.
  *
  * The inventory lives in graft.queries.* modules, grouped as the survey
  * groups them; this object is the merge point the driver calls.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Lazy, not a
    * plain val: `core` is declared below and would still be null while
    * the object initialises. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    core ++ BatchQueries.defs ++ WindowQueries.defs ++ LlmQueries.defs ++ IoQueries.defs ++
      CurationQueries.defs ++ WebQueries.defs ++ AnalyticsQueries.defs ++
      WarehouseQueries.defs ++ GeoQueries.defs ++ StatsQueries.defs ++
      StreamGateQueries.defs ++ TpchQueries.defs ++ TriggerGateQueries.defs ++
      StreamChainGateQueries.defs ++ SessionGateQueries.defs

  /** The queries a main runs: all of them for `None`, else the registered
    * entries a comma-separated `spec` names. An unregistered name (or an
    * empty list) throws — a typo must fail loudly, not yield a vacuously
    * green sweep. */
  def subset(spec: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    spec.fold(queries) { s =>
      val names = s.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(queries.keySet)
      require(names.nonEmpty && unknown.isEmpty,
        s"query subset '$s' must name registered queries; unknown: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.view.filterKeys(names).toMap
    }

  /** `s` as a JSON string literal: quote, backslash and every control
    * char (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    coreOracles ++ BatchQueries.oracles ++ WindowQueries.oracles ++ LlmQueries.oracles ++
      IoQueries.oracles ++ CurationQueries.oracles ++ WebQueries.oracles ++
      AnalyticsQueries.oracles ++ WarehouseQueries.oracles ++ GeoQueries.oracles ++
      StatsQueries.oracles ++ StreamGateQueries.oracles ++ TpchQueries.oracles ++
      TriggerGateQueries.oracles ++ StreamChainGateQueries.oracles ++
      SessionGateQueries.oracles

  // ---- the two flagship queries kept inline: the multi-agg Combine.perKey
  // shape (TPC-H Q1) and the reference's canonical WordCount example.
  private val core: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    "q_wordcount" -> { (s, dir) =>
      Tables(s, dir).documents
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("word"))
    },
  )

  private val coreOracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
           SELECT unnest(string_split_regex(lower(text), '[^a-z'']+')) AS word
           FROM documents)
         WHERE word <> ''
         GROUP BY word ORDER BY word""",
  )
}
