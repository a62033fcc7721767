package graft.tools

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.{Signals, Validation}
import graft.sources.{Polygon, PolygonClient}
import graft.streaming.{MarketTick, StreamingPipeline}

/** Manual end-to-end drive of the data layer + validation/signals +
  * streaming surfaces (used by /verify). */
object ManualDriveData {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(defaultCpus = 4)
    import spark.implicits._

    // --- Polygon local tree with one dated day-aggs CSV (local_demo.rs shape)
    val root = Files.createTempDirectory("polygon_drive").toString
    val dir = Paths.get(root, "global_crypto", "day_aggs_v1", "2023")
    Files.createDirectories(dir)
    val csv = new StringBuilder("ticker,date,open,high,low,close,volume,vwap,transactions\n")
    val tickers = Seq("X:BTCUSD", "X:ETHUSD")
    for (t <- tickers; d <- 1 to 28) {
      val base = if (t.contains("BTC")) 21000.0 else 1500.0
      val close = base + d * (if (d % 7 == 0) -15.0 else 10.0)
      csv.append(f"$t,2023-01-$d%02d,${close - 5}%.2f,${close + 10}%.2f,${close - 12}%.2f,$close%.2f,${1000 + d},${close - 1}%.2f,${100 + d}\n")
    }
    Files.write(dir.resolve("2023-01-15.csv"), csv.toString.getBytes)

    val client = new PolygonClient(spark, Polygon.Local(root))
    println("PATH=" + Polygon.filePath(Polygon.Local(root),
      Polygon.AssetClass.Crypto, Polygon.DataType.DayAggs, LocalDate.of(2023, 1, 15)))
    val day = client.loadData(Polygon.AssetClass.Crypto, Polygon.DataType.DayAggs,
      LocalDate.of(2023, 1, 15))
    client.registerTableWithIndicators("crypto_data", day)
    println("LOADED_ROWS=" + day.count())
    val btc = client.loadData(Polygon.AssetClass.Crypto, Polygon.DataType.DayAggs,
      LocalDate.of(2023, 1, 15), symbol = Some("X:BTCUSD"))
    println("FILTERED_ROWS=" + btc.count())
    println("LIST=" + client.listAvailableFiles("global_crypto").mkString(","))
    println("ASSETS=" + client.discoverAssetClasses().mkString(","))
    println("TYPES=" + client.discoverDataTypes("global_crypto").mkString(","))

    // the local_demo.rs:50-61 query through SQL
    spark.sql("""
      SELECT ticker, date, close,
        sma(close, 3) OVER w AS sma_3,
        rsi(close, 5) OVER w AS rsi_5
      FROM crypto_data WINDOW w AS (PARTITION BY ticker ORDER BY date)
      ORDER BY ticker, date""").show(8, false)

    // --- Validation: clean data passes; planted violations are counted
    val cleanDay = Validation.validateDayAggs(day)
    println("DAY_CLEAN_PASSED=" + cleanDay.passed + " total=" + cleanDay.totalRows)
    println(cleanDay.summary)
    val minute = Seq(
      ("AAPL", Timestamp.valueOf("2024-03-04 09:30:00"), 10.0, 12.0, 9.0, 11.0, 100L),
      ("AAPL", Timestamp.valueOf("2024-03-04 09:31:00"), 11.0, 11.5, 10.5, 11.2, 120L),
      ("AAPL", Timestamp.valueOf("2024-03-04 09:35:00"), 11.2, 11.8, 11.0, 11.5, -5L), // gap + neg volume
      ("MSFT", Timestamp.valueOf("2024-03-04 09:30:00"), 20.0, 19.0, 21.0, 20.5, 200L) // high<low
    ).toDF("ticker", "window_start", "open", "high", "low", "close", "volume")
    val rep = Validation.validateMinuteAggs(minute)
    println("MIN_PASSED=" + rep.passed + " checks=" + rep.checks.toSeq.sortBy(_._1).mkString(","))

    // --- Signals over the crypto table
    val rsiSig = Signals.detectRsiSignals(day, "ticker", Seq("date"), "close", window = 5)
    println("RSI_SIGNALS=" + rsiSig.count())
    rsiSig.show(5, false)
    val cross = Signals.detectMaCrossoverSignals(day, "ticker", Seq("date"), "close",
      shortWindow = 3, longWindow = 8)
    println("CROSSOVERS=" + cross.count())
    cross.show(5, false)

    // --- Streaming: MemoryStream → indicators → signals → foreachBatch
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[MarketTick]
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val query = StreamingPipeline.process(spark, mem.toDS(), windowSize = 3) { batch =>
      collected.synchronized { collected ++= batch.collect() }
    }
    def tick(sym: String, i: Int, price: Double, vol: Long) =
      MarketTick(sym, new Timestamp(1700000000000L + i * 1000L), price, vol, None, None)
    // falling prices → oversold RSI; then a 10x volume spike
    mem.addData((1 to 8).map(i => tick("BTC", i, 100.0 - 3 * i, 100L)): _*)
    query.processAllAvailable()
    mem.addData(tick("BTC", 9, 76.0, 1000L))
    query.processAllAvailable()
    query.stop()
    val types = collected.map(_.getString(0)).distinct.sorted
    println("STREAM_SIGNALS=" + collected.size + " types=" + types.mkString(","))

    // --- transformWithState variant: same ticks, RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem2 = MemoryStream[MarketTick]
    val q2 = StreamingPipeline.indicatorsTws(mem2.toDS(), windowSize = 3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("tws_drive").toString)
      .format("memory").queryName("tws_drive_out").start()
    mem2.addData((1 to 8).map(i => tick("BTC", i, 100.0 - 3 * i, 100L)): _*)
    q2.processAllAvailable()
    mem2.addData(tick("BTC", 9, 76.0, 1000L))
    q2.processAllAvailable()
    q2.stop()
    val twsRows = spark.table("tws_drive_out").count()
    println("TWS_ROWS=" + twsRows)

    // --- skew utilities over real lineitem data (l_suppkey ~ join key)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val supp = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    val direct = li.join(supp, li("l_suppkey") === supp("s_suppkey")).count()
    val salted = graft.operators.Skew.saltedJoin(
      li.withColumnRenamed("l_suppkey", "k"),
      supp.withColumnRenamed("s_suppkey", "k"), Seq("k"), "l_orderkey").count()
    println(s"SKEW_JOIN direct=$direct salted=$salted equal=${direct == salted}")
    val agg = graft.operators.Skew.twoStageAgg(
      li, Seq("l_returnflag"), "l_orderkey", Seq("l_quantity" -> "sum"))
    agg.show(3, false)
    spark.stop()
    println("DONE")
  }
}
