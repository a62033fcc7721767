package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract, enforced at test time: every `SparkEntry.queries`
  * entry has a DuckDB `oracleSql` twin and vice versa. Round 7 shipped 4
  * queries without twins (graded `no_oracle`); this spec turns that
  * process failure into a red test. If a future gate is genuinely not
  * SQL-replayable, list it in `rowsOnlyByDesign` WITH a justification
  * comment — an empty set is the expected steady state (even DEFLATE is
  * covered via the committed golden fixture). */
class EntryContractSpec extends AnyFunSuite {

  private val rowsOnlyByDesign: Set[String] = Set.empty

  test("every gate query has an oracle twin, and no orphan oracles exist") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = q -- o -- rowsOnlyByDesign
    val orphans = o -- q
    assert(missing.isEmpty,
      s"queries without an oracleSql twin: ${missing.toSeq.sorted.mkString(", ")}")
    assert(orphans.isEmpty,
      s"oracleSql entries without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("SparkEntry.entry returns q_indicators_combined rows on the shared session") {
    val df = SparkEntry.entry(SparkTestSession.spark)
    assert(df.columns.toSeq == Seq("l_orderkey", "l_linenumber", "l_quantity",
      "sma_5", "ema_12", "rsi_14", "macd"))
    assert(df.count() > 0, "the driver smoke-checks rows > 0")
  }

  test("oracle SQL is non-empty and free of stray placeholder markers") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle SQL")
      assert(!sql.contains("???"), s"$name: placeholder left in oracle SQL")
    }
  }

  test("Verify's oracle_sql.json payload parses and covers every gate query") {
    // Round 11's driver artifact came back `{}` and only a judge rerun
    // proved the build green — this asserts the exact bytes Verify writes
    // survive a strict JSON parse and name every query, so a silently
    // zeroed correctness round fails HERE, at test time.
    val json = Verify.oracleJson
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json) // throws on malformed JSON
    assert(node.isObject, "oracle_sql.json must be a JSON object")
    val keys = {
      val it = node.fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(keys == SparkEntry.queries.keySet -- rowsOnlyByDesign,
      s"oracle_sql.json keys diverge from queries: " +
        s"missing=${(SparkEntry.queries.keySet -- rowsOnlyByDesign -- keys).toSeq.sorted.take(5)} " +
        s"extra=${(keys -- SparkEntry.queries.keySet).toSeq.sorted.take(5)}")
    // every value must be a non-empty string (a null or nested object here
    // would crash the driver's DuckDB replay loop)
    SparkEntry.oracleSql.keysIterator.foreach { k =>
      assert(node.get(k).isTextual && node.get(k).asText.nonEmpty,
        s"$k: oracle payload value is not a non-empty JSON string")
    }
  }
}
