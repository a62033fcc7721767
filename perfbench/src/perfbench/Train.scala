package perfbench

import java.nio.file.{Files, Paths}

/** Class-loading training run for the build: every workload's code path
  * once, on tiny inputs, so the JVM can dump the classes it loaded into a
  * shared archive that later runs map instead of loading from the jars.
  * `perfbench.Train <work dir>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val data = work.resolve("train-data")
    Main.deleteTree(data)
    Files.createDirectories(data)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Harness.session(work, cores)
    val tracer = new Tracer(true, spark.sparkContext)
    val exec = new ExecListener(true)
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(new PhaseListener)
    val runner = new Runner(spark, tracer)
    // the indicators workload and the stream load most of the classes every
    // workload shares (dedup_graph's first pass is slow for JIT and code
    // generation, which an archive does not help)
    Seq(new Indicators(Gen.bars(data.resolve("polygon"), 0, 40, 4000, 8), 0)).foreach { w =>
      w.register(spark)
      w.pass(spark).foreach { q =>
        runner.execute(q)
        runner.executeChecked(q)
        runner.sweep()
      }
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    TickStream.runStream(spark, cores, Gen.schedule(0, 400, 2.0, 20, 0, 0, 0),
      work.resolve("checkpoints/train"), tracer, 0L, () => ())
    spark.stop()
    Main.deleteTree(data)
  }
}
