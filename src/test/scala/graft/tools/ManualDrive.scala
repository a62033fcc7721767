package graft.tools

import graft.functions.FinancialFunctions

/** Manual end-to-end drive of the library surface (used by /verify). */
object ManualDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(defaultCpus = 4)
    FinancialFunctions.registerAll(spark)
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
    val df = spark.sql("""
      SELECT l_suppkey, l_orderkey, l_quantity,
        sma(l_quantity, 5)  OVER w AS sma_5,
        ema(l_quantity, 12) OVER w AS ema_12,
        rsi(l_quantity, 14) OVER w AS rsi_14,
        macd(l_quantity)    OVER w AS macd
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      ORDER BY l_suppkey, l_orderkey LIMIT 20""")
    df.show(20, false)
    println("NONNULL_RSI_ROWS=" + spark.sql(
      "SELECT rsi(l_quantity,14) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) r FROM lineitem")
      .filter("r IS NOT NULL").count())
    def probe(tag: String, sql: String): Unit =
      try { spark.sql(sql).collect(); println(s"$tag: NO ERROR") }
      catch { case e: Exception => println(s"$tag: ${e.getMessage.linesIterator.next()}") }
    probe("PROBE_ARITY", "SELECT sma(l_quantity) OVER (ORDER BY l_orderkey) FROM lineitem")
    probe("PROBE_ZERO", "SELECT sma(l_quantity, 0) OVER (ORDER BY l_orderkey) FROM lineitem")
    probe("PROBE_STRING", "SELECT sma(l_returnflag, 3) OVER (ORDER BY l_orderkey) FROM lineitem")
    probe("PROBE_NO_OVER", "SELECT ema(l_quantity, 3) FROM lineitem")
    probe("PROBE_NEG", "SELECT rsi(l_quantity, -1) OVER (ORDER BY l_orderkey) FROM lineitem")
    // var_ema through the SQL-string surface: α = 1 must reproduce the
    // input series exactly; a string alpha must fail at analysis
    println("VAR_EMA_ALPHA1_MISMATCHES=" + spark.sql(
      """SELECT l_quantity, var_ema(l_quantity, 1.0)
        |  OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) v
        |FROM lineitem""".stripMargin)
      .filter("v <> CAST(l_quantity AS DOUBLE)").count())
    probe("PROBE_VAR_EMA_STRING",
      "SELECT var_ema(l_quantity, l_returnflag) OVER (ORDER BY l_orderkey) FROM lineitem")
    // runprod: unit factors must stay exactly 1.0; a NULL factor row
    // emits NULL (frozen state) and later rows resume from the product
    println("RUNPROD_BAD_ROWS=" + spark.sql(
      """SELECT runprod(CASE WHEN l_linenumber = 3 THEN CAST(NULL AS DOUBLE)
        |                    ELSE 1.0 END)
        |  OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) p,
        |  l_linenumber
        |FROM lineitem""".stripMargin)
      .filter("(l_linenumber = 3 AND p IS NOT NULL) OR (l_linenumber <> 3 AND p <> 1.0)")
      .count())
    // holt_winters through the SQL surface: a constant series must fit
    // itself exactly once level+trend are seeded (trend 0, seasonal 0)
    println("HOLT_WINTERS_BAD_ROWS=" + spark.sql(
      """SELECT l_quantity,
        |  holt_winters(42.0, 7, 300, 200, 300)
        |    OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber) hw,
        |  row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber) rn
        |FROM lineitem""".stripMargin)
      .filter("(rn >= 2 AND hw <> 42.0) OR (rn = 1 AND hw IS NOT NULL)")
      .count())
    probe("PROBE_HW_PERIOD",
      "SELECT holt_winters(l_quantity, 1, 300, 200, 300) OVER (ORDER BY l_orderkey) FROM lineitem")
    spark.stop()
    println("DONE")
  }
}
