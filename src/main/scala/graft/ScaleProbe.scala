package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replica corpora for [[ScaleFit]]: a S× corpus is SYNTHESIZED from a
  * base scale factor under `target/scaledata/x<S>` (never touching the
  * read-only testdata): each fact table is unioned S times with
  * replica-shifted keys, and every foreign-key domain is shifted by the
  * SAME per-domain offset on both sides, so joins stay referentially
  * intact:
  *
  *  - `orderkey` (orders ⋈ lineitem) shifts together — S× orders;
  *  - `custkey` (customer ⋈ orders) and `suppkey` (supplier ⋈ lineitem)
  *    shift together — S× KEY CARDINALITY, the honest growth model for
  *    per-key windows (a 10× corpus has more symbols, not 10×-longer
  *    history per symbol) and for the trade graph (10× nodes AND edges,
  *    not a 10×-denser clique);
  *  - `doc_id` / `vec_id` / `event_id` / `user_id` shift per replica;
  *    replica i>0 documents get a 2-token replica tag appended so a
  *    duplicate CLUSTER is repeated S times (linear growth) instead of
  *    each cluster growing S× (quadratic candidate pairs by construction,
  *    which would charge the data's shape to the plan);
  *  - `part`, `region`, `nation` copy unchanged (partkey/nationkey stay
  *    in-domain — dimension tables don't grow 10× in a 10× corpus).
  */
object ScaleProbe {

  private case class Shift(col: String, offset: Long)

  /** Per-table key columns that shift per replica; offsets are the same
    * wherever a domain appears so FK pairs move in lockstep. */
  private def plans(offsets: Map[String, Long]): Map[String, Seq[Shift]] = {
    def s(dom: String, c: String) = Shift(c, offsets(dom))
    Map(
      "lineitem" -> Seq(s("orderkey", "l_orderkey"), s("suppkey", "l_suppkey")),
      "orders" -> Seq(s("orderkey", "o_orderkey"), s("custkey", "o_custkey")),
      "customer" -> Seq(s("custkey", "c_custkey")),
      "supplier" -> Seq(s("suppkey", "s_suppkey")),
      "events" -> Seq(s("event_id", "event_id"), s("user_id", "user_id")),
      "documents" -> Seq(s("doc_id", "doc_id")),
      "embeddings" -> Seq(s("vec_id", "vec_id")),
      "part" -> Nil, "region" -> Nil, "nation" -> Nil)
  }

  /** events goes through the unit-aware reader (its INT64 ts unit has
    * changed between rounds — see NOTES); the scaled copy is therefore
    * written with ts as plain BIGINT NANOS, which readNanos treats as
    * already-normalized (un-annotated int64 → multiplier 1). */
  private def readTable(spark: SparkSession, dir: String,
                        table: String): DataFrame =
    if (table == "events") graft.sources.Events.readNanos(spark, dir)
    else spark.read.parquet(s"$dir/$table.parquet")

  /** Domain → offset = max(key)+1 over every table carrying the domain,
    * read once from the base corpus. */
  private def domainOffsets(spark: SparkSession, dir: String): Map[String, Long] = {
    def mx(table: String, c: String): Long =
      readTable(spark, dir, table)
        .agg(max(col(c).cast("long"))).head.getLong(0)
    Map(
      "orderkey" -> (math.max(mx("orders", "o_orderkey"), mx("lineitem", "l_orderkey")) + 1),
      "custkey" -> (math.max(mx("customer", "c_custkey"), mx("orders", "o_custkey")) + 1),
      "suppkey" -> (math.max(mx("supplier", "s_suppkey"), mx("lineitem", "l_suppkey")) + 1),
      "event_id" -> (mx("events", "event_id") + 1),
      "user_id" -> (mx("events", "user_id") + 1),
      "doc_id" -> (mx("documents", "doc_id") + 1),
      "vec_id" -> (mx("embeddings", "vec_id") + 1))
  }

  /** Builds the scaled corpus once. The skip is gated on Spark's own
    * `_SUCCESS` marker plus a sibling manifest recording (Scale, baseDir)
    * — a partially-written parquet from a crashed run, or a stale corpus
    * built at a different scale or from a different base, is rebuilt
    * instead of silently reused (which would corrupt the measured
    * exponents). */
  def buildScaled(spark: SparkSession, baseDir: String, outDir: String,
                  scale: Int): Unit = {
    val offs = domainOffsets(spark, baseDir)
    val stamp = s"scale=$scale base=$baseDir"
    plans(offs).foreach { case (table, shifts) =>
      val target = new java.io.File(s"$outDir/$table.parquet")
      val success = new java.io.File(target, "_SUCCESS")
      val manifest = new java.io.File(s"$outDir/$table.manifest")
      val fresh = success.exists() && manifest.exists() &&
        java.nio.file.Files.readString(manifest.toPath) == stamp
      if (!fresh) {
        val base = readTable(spark, baseDir, table)
        val scaled =
          if (shifts.isEmpty) base
          else (0 until scale).map { i =>
            val shifted = shifts.foldLeft(base) { (df, sh) =>
              df.withColumn(sh.col, col(sh.col) + lit(sh.offset * i))
            }
            if (table == "documents" && i > 0)
              // keep derived stats consistent with the mutated text:
              // n_chars is recomputed, not copied from the replica source
              shifted.withColumn("text",
                  concat(col("text"), lit(s" replica r$i")))
                .withColumn("n_chars", length(col("text")).cast("long"))
            else shifted
          }.reduce(_.unionAll(_))
        scaled.write.mode("overwrite").parquet(target.getPath)
        java.nio.file.Files.writeString(manifest.toPath, stamp)
      }
    }
  }
}

/** Three-point SINGLE-SESSION scale fit: times each watch query at scales
  * 1×/10×/30× (min-of-5 at every scale, one JVM, one host state) and fits
  * `t = a + b·S` by least squares. A two-point probe's exponent
  * `log_S(t_S/t_1)` fits ANY monotone curve exactly, so it cannot
  * distinguish "constant marginal cost with fixed overhead" (a + b·S —
  * exponent drifts toward 1 as S grows but the PLAN is linear) from mild
  * superlinearity; three points in one session can: if the line fits, the
  * middle-point residual is small, and the residual is the verdict.
  *
  * Reported per query: the three min-of-5 timings, the fitted (a, b), and
  * `resid10_pct` = (t10 − (a + 10b)) / t10. Under the linear model the
  * residual is pure measurement noise (≲15% on this host); a large
  * POSITIVE residual means the middle point sits above the line through
  * the ends — concave-up growth, i.e. genuine superlinearity that reopens
  * the plan. Output: scaleprobe3pt.json. */
object ScaleFit {
  val DefaultProbes = Seq("q_hurst", "q_seasonal_anomaly", "q_market_beta")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val probes = sys.env.get("GRAFT_FIT_ONLY")
      .map(_.split(",").toSeq).getOrElse(DefaultProbes)
    // r14 verdict #1: the ladder is configurable so the highest-exponent
    // families can be probed at 1x/10x/30x/100x in ONE session. The
    // default stays the canonical 3-point fit; a 4-point run writes to
    // scaleprobe<max>.json and additionally reports how far the LAST
    // point bends off the line fitted through the earlier points
    // (bend_last_pct > 0 = concave-up = superlinearity the shorter
    // ladder could not see).
    val scales = sys.env.get("GRAFT_FIT_SCALES")
      .map(_.split(",").toSeq.map(_.trim.toInt).sorted)
      .getOrElse(Seq(10, 30))
    val runsPer = sys.env.get("GRAFT_FIT_RUNS").map(_.toInt).getOrElse(5)
    val spark = Harness.session(defaultCpus = 32)
    import Harness.{force, seconds}
    def sweep(): Unit = Harness.sweep(spark)

    val dirs: Map[Int, String] = Map(1 -> baseDir) ++ scales.map { s =>
      val d = s"target/scaledata/x$s"
      ScaleProbe.buildScaled(spark, baseDir, d, scale = s)
      s -> d
    }

    def time(name: String, dir: String): Option[Double] = {
      def once(): Double = seconds(force(SparkEntry.queries(name)(spark, dir)))
      val r = try Some((1 to runsPer).map { i =>
          val t = once(); if (i < runsPer) sweep(); t
        }.min)
      catch { case e: Throwable =>
        System.err.println(s"$name failed at $dir: ${e.getMessage}"); None }
      sweep(); r
    }

    force(SparkEntry.queries("q_indicators_combined")(spark, baseDir)) // warm-up
    sweep()

    // GRAFT_FIT_FLOOR=1 (r13 verdict #3): ALSO measure each probe's fixed
    // session floor — the same query against a corpus whose documents
    // table is EMPTY (schema preserved, every other table untouched) —
    // and refit ZERO-INTERCEPT on the floored values. The a+b·S residual
    // is invariant to subtracting a constant, so "overhead-dominated"
    // can only be tested by pinning the intercept to the measured floor:
    // t(S) ≈ floor + b·S with b = Σ S·(t−floor) / Σ S².
    val withFloor = sys.env.get("GRAFT_FIT_FLOOR").contains("1")
    // keyed by baseDir (ADVICE r14): the non-documents side tables are
    // copied once per corpus — a floor dir shared across corpora would
    // silently measure floors against the PREVIOUS corpus's side tables
    // when SPARK_GRAFT_SF_DIR changes between runs
    val floorDir = "target/floordata_" +
      java.lang.Integer.toHexString(baseDir.hashCode)
    if (withFloor) {
      val src = java.nio.file.Paths.get(baseDir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(floorDir))
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(src)
      try listing.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach { p =>
          val name = p.getFileName.toString
          val out = s"$floorDir/$name"
          if (name == "documents.parquet")
            spark.read.parquet(p.toString).limit(0)
              .write.mode("overwrite").parquet(out)
          else if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
            spark.read.parquet(p.toString).write.mode("overwrite").parquet(out)
        }
      finally listing.close()
    }

    val xs = (1 +: scales).map(_.toDouble)
    def lsq(px: Seq[Double], py: Seq[Double]): (Double, Double) = {
      val xbar = px.sum / px.size
      val ybar = py.sum / py.size
      val b = px.zip(py).map { case (x, y) => (x - xbar) * (y - ybar) }.sum /
        px.map(x => (x - xbar) * (x - xbar)).sum
      (ybar - b * xbar, b)
    }
    val rows = probes.flatMap { name =>
      val ts = (1 +: scales).flatMap(s => time(name, dirs(s)))
      if (ts.size == xs.size) {
        val ys = ts
        val (a, b) = lsq(xs, ys)
        val pred10 = a + b * xs(1)
        val resid10 = (ys(1) - pred10) / ys(1) * 100.0
        // 4+ points: residual of the LAST point against the line through
        // the EARLIER points — the "does 100x bend off the 30x fit" test
        val bendPart = if (xs.size >= 4) {
          val (a3, b3) = lsq(xs.dropRight(1), ys.dropRight(1))
          val pred = a3 + b3 * xs.last
          f""","bend_last_pct":${(ys.last - pred) / ys.last * 100.0}%.1f"""
        } else ""
        val floorPart = if (withFloor) {
          time(name, floorDir) match {
            case Some(f) =>
              val yf = ys.map(_ - f)
              val bf = xs.zip(yf).map { case (x, y) => x * y }.sum /
                xs.map(x => x * x).sum
              val residF = (ys(1) - (f + bf * 10.0)) / ys(1) * 100.0
              f""","floor_sec":$f%.2f,"b_floored":$bf%.4f,"resid10_floor_pct":$residF%.1f"""
            case None => ""
          }
        } else ""
        val pts = xs.zip(ys)
          .map { case (x, y) => f""""t${x.toInt}%dx":$y%.2f""" }.mkString(",")
        val row =
          f"""{$pts,"a":$a%.3f,"b":$b%.4f,"resid10_pct":$resid10%.1f$bendPart$floorPart,"runs":$runsPer}"""
        println(s"""FIT {"query":"$name",${row.drop(1)}""")
        Some(name -> row)
      } else None
    }
    println(merge(
      if (scales == Seq(10, 30)) "scaleprobe3pt.json"
      else s"scaleprobe${scales.max}.json",
      rows.toMap))
    spark.stop()
  }

  /** Merges `rows` (query -> flat JSON object) into the artifact at `path`
    * and returns what it wrote: a GRAFT_FIT_ONLY run must not clobber the
    * full sweep's entries (one flat k:v JSON level — a regex merge keeps
    * this dependency-free). */
  private def merge(path: String, rows: Map[String, String]): String = {
    val outPath = java.nio.file.Paths.get(path)
    val prior: Map[String, String] =
      if (java.nio.file.Files.exists(outPath)) {
        val txt = java.nio.file.Files.readString(outPath)
        """"(q_[a-z0-9_]+)":(\{[^}]*\})""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
      } else Map.empty
    val json = (prior ++ rows).toSeq.sortBy(_._1)
      .map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    json
  }
}
