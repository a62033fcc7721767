package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: the Spark query `run(spark, sfDir)` and the
  * DuckDB SQL that must return the same columns and rows.
  * `run` assumes the testdata tables and SQL functions are registered;
  * [[graft.SparkEntry.queries]] does that before every call. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracleSql: String)

object Gates {

  /** Every gate, in family order. Built once per JVM. */
  lazy val all: Seq[Gate] = checked(
    RollingGates.all ++ StatsGates.all ++ EvalGates.all ++ MarketGates.all ++
      RelationalGates.all ++ StreamingGates.all ++ TextGates.all ++
      DedupGates.all ++ GraphGates.all ++ MediaGates.all ++ AnalyticsGates.all)

  /** `gates` unchanged, or an error naming every gate defined twice: a
    * repeated name would otherwise let one definition silently replace
    * the other in the name-keyed maps. */
  def checked(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"gate name defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
