package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, pmod, sum, xxhash64}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** What a layer call returns: a lazy frame the harness forces, or a value
  * the call already computed (its jobs ran inside the call). */
sealed trait Out
final case class Frame(df: DataFrame) extends Out
final case class Value(v: Any) extends Out

/** One query: a call into `layer` (plus forcing its frame), and the check
  * its output must pass. A step with `isQuery = false` (a load that runs
  * no action) is timed as part of its pass but is not a query sample. */
final case class Query(name: String, layer: String, call: () => Out,
                       check: Out => Seq[String], isQuery: Boolean = true)

/** One timed query execution. `digest` is the observed (row count, sum of
  * row hashes) of a forced frame, or the value's string form. */
final case class Sample(query: String, seconds: Double, digest: String, error: Option[String])

object Harness {

  /** `local[N]` with N = nproc, shuffle partitions to match, all scratch
    * files under `work`. */
  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Runs queries the way `graft.Bench` does: one at a time from this
  * thread, each forced through the `noop` sink, with a sweep after each so
  * no query inherits another's blocks. */
final class Runner(spark: SparkSession, tracer: Tracer) {
  private var observations = 0L
  /** Persistent RDDs each query left behind after `CacheScope.release`. */
  val leftAfterRelease = ArrayBuffer.empty[Int]

  /** `df` with an observed, order-independent row digest: the observation
    * rides whatever action runs the frame and adds no job. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    observations += 1
    val obs = Observation(s"perfbench_digest_$observations")
    val h = if (df.columns.isEmpty) lit(0L) else xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    (df.observe(obs, count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"),
      bit_xor(h).as("x")), obs)
  }

  private def digest(obs: Observation): String = {
    val r = Await.result(obs.future, 120.seconds)
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Forces `df` through the noop sink; returns its digest. */
  def force(df: DataFrame): String = {
    val (o, obs) = observed(df)
    o.write.format("noop").mode("overwrite").save()
    digest(obs)
  }

  /** One timed execution of `q` inside a query span: the call (construct)
    * and the force (exec). */
  def execute(q: Query): Sample = {
    val t0 = System.nanoTime()
    try {
      val d = tracer.span(q.name, q.layer, "query") {
        tracer.span(s"${q.name}.call", q.layer, "construct")(q.call()) match {
          case Frame(df) => tracer.span(s"${q.name}.force", q.layer, "exec")(force(df))
          case Value(v)  => v.toString
        }
      }
      Sample(q.name, (System.nanoTime() - t0) / 1e9, d, None)
    } catch {
      case NonFatal(e) => Sample(q.name, (System.nanoTime() - t0) / 1e9, "", Some(errorText(e)))
    }
  }

  /** One checked execution of `q`: its check runs the frame (instead of the
    * noop sink) and the digest is observed on that same execution. Returns
    * the sample and the problems the check found. */
  def executeChecked(q: Query): (Sample, Seq[String]) = {
    val t0 = System.nanoTime()
    try {
      val (problems, d) = q.call() match {
        case Frame(df) =>
          val (o, obs) = observed(df)
          val p = q.check(Frame(o))
          (p, if (p.isEmpty) digest(obs) else "")
        case v @ Value(x) => (q.check(v), x.toString)
      }
      (Sample(q.name, (System.nanoTime() - t0) / 1e9, d, None), problems)
    } catch {
      case NonFatal(e) =>
        (Sample(q.name, (System.nanoTime() - t0) / 1e9, "", Some(errorText(e))), Seq(s"error: ${errorText(e)}"))
    }
  }

  private def errorText(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Releases what the query cached: the CacheScope registry and the SQL
    * cache first, then (after counting them) any RDDs still persisted. */
  def sweep(): Unit = {
    graft.CacheScope.release(blocking = true)
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs.values
    leftAfterRelease += left.size
    left.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
