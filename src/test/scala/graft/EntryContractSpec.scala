package graft

import graft.queries._

/** The driver-contract discipline, asserted mechanically:
  *
  *  - every registered query has an oracle and every oracle names a
  *    registered query (a typo'd oracle key would otherwise be IGNORED
  *    silently — the query would grade rows-only and the round's gate
  *    would weaken without anyone noticing);
  *  - no two query modules register the same name (SparkEntry merges
  *    with `Map ++`, which silently keeps the LAST definition — a name
  *    collision would shadow a query and its oracle without any error).
  */
class EntryContractSpec extends SparkSpec {

  test("oracleSql keys and queries keys are the SAME set") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles for unregistered queries: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("subset selects exactly the named queries and rejects unregistered names") {
    assert(SparkEntry.subset(Some("q1_agg, q_trigger_panes")).keySet ==
      Set("q1_agg", "q_trigger_panes"))
    val e = intercept[IllegalArgumentException](SparkEntry.subset(Some("q1_agg,q_nope")))
    assert(e.getMessage.contains("q_nope"))
  }

  test("q_sql_surface_audit invokes every GraftExtensions-registered native") {
    val registered = GraftExtensions.functions.map(_._1.funcName)
    assert(registered.nonEmpty)
    val missing = registered.filterNot(n => LlmQueries.sqlSurfaceAuditSql.contains(n + "("))
    assert(missing.isEmpty,
      s"registered natives never invoked in the SQL-surface audit: $missing — " +
        "add an audit leg (and the oracle row comes for free)")
  }

  test("no query output schema carries array/map/struct or wide-decimal columns") {
    // The driver gate hashes pandas frames: a LIST column crashes its
    // row sort (unhashable numpy.ndarray — the r9 q_inverted_index
    // failure) and a DECIMAL wider than 18 digits deserializes as a
    // LOSSY float64 on the DuckDB side (the r9 q_table_checksum
    // failure). Output contract (SURVEY §0): scalar columns only, and
    // decimals at most 18 digits — serialize lists with array_join and
    // wide decimals as strings BEFORE the final select.
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      SparkEntry.queries(name)(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
        case f @ StructField(_, d: DecimalType, _, _) if d.precision > 18 =>
          s"$name.${f.name}: ${d.simpleString}"
      }
    }
    assert(bad.isEmpty,
      "driver-unhashable output columns (serialize with array_join / " +
        s"CAST AS STRING before the final select): ${bad.mkString(", ")}")
  }

  test("no query name collides across modules (Map ++ would silently shadow)") {
    // ONE authoritative module partition: Ledger.parts (which LedgerSpec
    // already pins to LEDGER.md) — a second hand-kept copy here would
    // have to be updated in lockstep with every new module
    val parts = Ledger.parts
    val dupes = parts.flatMap { case (m, ks) => ks.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty,
      s"query names registered in more than one module: " +
        dupes.map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }.mkString(", "))
    // and the merged map must be exactly the sum of the parts (the core
    // flagship queries are Ledger.parts' "SparkEntry (core)" entry)
    val partTotal = parts.map(_._2.size).sum
    assert(SparkEntry.queries.size == partTotal,
      s"merged ${SparkEntry.queries.size} != parts $partTotal — a module " +
        "shadowed a core query or a name collided")
  }
}
