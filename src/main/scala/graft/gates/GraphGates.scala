package graft
package gates

import org.apache.spark.sql.functions.{col, lit}

/** Gates over [[operators.Graph]]. */
private[gates] object GraphGates {

  val all: Seq[Gate] = Seq(
    Gate("q_kcore", (s, d) => {
      // 5-core of the sparse (quantity ≥ 48) co-supplier graph — two
      // peel rounds at sf0.01; the oracle unrolls four (extra rounds
      // are no-ops past the fixpoint)
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 48.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.kCore(edges, "s1", "s2", k = 5)
        .orderBy(col("node"))
    }, {
      // Replays Graph.kCore with four UNROLLED peel rounds (fixpoint at
      // round 2 on this data; later rounds are identity) — the unique
      // k-core makes peel order irrelevant.
      def round(i: Int): String =
        s"""d$i AS (SELECT node, count(*) AS d FROM (
           |  SELECT u AS node FROM e${i - 1}
           |  UNION ALL SELECT v AS node FROM e${i - 1}) t GROUP BY 1),
           |w$i AS (SELECT node FROM d$i WHERE d < 5),
           |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
           |        WHERE u NOT IN (SELECT node FROM w$i)
           |          AND v NOT IN (SELECT node FROM w$i))""".stripMargin
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         |            FROM lineitem a JOIN lineitem b
         |              ON a.l_orderkey = b.l_orderkey
         |             AND a.l_suppkey < b.l_suppkey
         |            WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT u AS node FROM e4 UNION ALL SELECT v AS node FROM e4) t
         |GROUP BY node
         |ORDER BY node""".stripMargin
    }),
    Gate("q_assortativity", (s, d) => {
      // degree assortativity of the co-supplier graph — one-row
      // structure fingerprint, DECIMAL five-sums + the clamp tree
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 48.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.assortativity(edges, "s1", "s2")
    },
      // Assortativity replay: directed edge instances, HUGEINT-exact
      // five-sums over endpoint degrees, the clamp tree.
      """WITH half AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |              FROM lineitem a JOIN lineitem b
        |                ON a.l_orderkey = b.l_orderkey
        |               AND a.l_suppkey < b.l_suppkey
        |              WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |adj AS (SELECT u AS a, v AS b FROM half
        |        UNION ALL SELECT v, u FROM half),
        |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM adj GROUP BY a),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |        CAST(sum(da.d) AS DOUBLE) AS sx, CAST(sum(db.d) AS DOUBLE) AS sy,
        |        CAST(sum(da.d * da.d) AS DOUBLE) AS sxx,
        |        CAST(sum(db.d * db.d) AS DOUBLE) AS syy,
        |        CAST(sum(da.d * db.d) AS DOUBLE) AS sxy
        |      FROM adj e JOIN deg da ON da.node = e.a
        |                 JOIN deg db ON db.node = e.b),
        |f AS (SELECT m, CAST(m AS DOUBLE) AS md,
        |        CAST(m AS DOUBLE) * sxy - sx * sy AS num,
        |        CAST(m AS DOUBLE) * sxx - sx * sx AS dx,
        |        CAST(m AS DOUBLE) * syy - sy * sy AS dy
        |      FROM s)
        |SELECT m // 2 AS n_edges,
        |  CASE WHEN dx > 0.0 AND dy > 0.0 THEN
        |    greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
        |      num / (sqrt(dx) * sqrt(dy)))) END AS assortativity
        |FROM f""".stripMargin),
    Gate("q_link_predict", (s, d) => {
      // link-prediction candidates over the sparse co-supplier graph:
      // common neighbors, Jaccard, and order-pinned Adamic–Adar for
      // every non-adjacent pair with ≥ 2 shared neighbors
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 48.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.linkPrediction(edges, "s1", "s2", minCommon = 2)
        .orderBy(col("node_a"), col("node_b"))
    },
      // Link-prediction replay: same wedge build through the middle node,
      // integer counts/degrees, one Jaccard division, and the Adamic–Adar
      // fold over the middle-ordered degree list with per-term rounded ln.
      """WITH half AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |              FROM lineitem a JOIN lineitem b
        |                ON a.l_orderkey = b.l_orderkey
        |               AND a.l_suppkey < b.l_suppkey
        |              WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |adj AS (SELECT u AS m, v AS x FROM half
        |        UNION ALL SELECT v, u FROM half),
        |deg AS (SELECT m AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM adj GROUP BY m),
        |wed AS (SELECT p.m, p.x AS na, q.x AS nb
        |        FROM adj p JOIN adj q ON q.m = p.m AND p.x < q.x),
        |sc AS (SELECT w.na, w.nb, CAST(count(*) AS BIGINT) AS common_n,
        |         list(dm.d ORDER BY w.m) AS ds
        |       FROM wed w JOIN deg dm ON dm.node = w.m
        |       GROUP BY w.na, w.nb
        |       HAVING count(*) >= 2),
        |cand AS (SELECT s.* FROM sc s
        |         WHERE NOT EXISTS (SELECT 1 FROM half h
        |                           WHERE h.u = s.na AND h.v = s.nb))
        |SELECT c.na AS node_a, c.nb AS node_b, c.common_n,
        |  CAST(c.common_n AS DOUBLE)
        |    / CAST(da.d + db.d - c.common_n AS DOUBLE) AS jaccard,
        |  list_reduce(list_transform(c.ds,
        |    v -> 1.0::DOUBLE / (round(ln(CAST(v AS DOUBLE)), 10) + 0.0)),
        |    (x, y) -> x + y) AS adamic_adar
        |FROM cand c
        |JOIN deg da ON da.node = c.na
        |JOIN deg db ON db.node = c.nb
        |ORDER BY node_a, node_b""".stripMargin),
    Gate("q_label_prop", (s, d) => {
      // deterministic 3-round label propagation over the sparse
      // co-supplier graph — synchronous rounds, (count desc, label asc)
      // tie order, unrollable oracle
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 48.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.labelPropagation(edges, "s1", "s2", iters = 3)
        .orderBy(col("node"))
    }, {
      // Label-propagation replay: the same co-supplier edge build, then
      // three UNROLLED synchronous rounds — per round, neighbor-label
      // votes and the (count DESC, label ASC) winner via row_number, the
      // exact total order of the struct-max argmax.
      def round(i: Int): String =
        s"""c$i AS (SELECT u.a, l.label, CAST(count(*) AS BIGINT) AS cnt
           |  FROM und u JOIN l${i - 1} l ON l.node = u.b
           |  GROUP BY u.a, l.label),
           |l$i AS (SELECT a AS node, label FROM (
           |  SELECT a, label, row_number() OVER (PARTITION BY a
           |    ORDER BY cnt DESC, label ASC) AS r FROM c$i) t
           |  WHERE r = 1)""".stripMargin
      s"""WITH half AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         |              FROM lineitem a JOIN lineitem b
         |                ON a.l_orderkey = b.l_orderkey
         |               AND a.l_suppkey < b.l_suppkey
         |              WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
         |und AS (SELECT u AS a, v AS b FROM half
         |        UNION SELECT v, u FROM half),
         |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin
    }),
    Gate("q_triangles", (s, d) => {
      // exact triangle count of the co-supplier graph (suppliers sharing
      // a high-quantity order) — degree-ordered compact-forward plan;
      // the oracle counts u<v<w closed triples naively, same total
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 40.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.triangleCount(edges, "s1", "s2")
    },
      // Oracle for Graph.triangleCount: the naive u<v<w closed-triple count
      // over the same normalized edge set — orientation changes the plan,
      // never the total.
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |           FROM lineitem a JOIN lineitem b
        |             ON a.l_orderkey = b.l_orderkey
        |            AND a.l_suppkey < b.l_suppkey
        |           WHERE a.l_quantity >= 40 AND b.l_quantity >= 40)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM e e1
        |     JOIN e e2 ON e2.u = e1.v
        |     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin),
    Gate("q_local_clustering", (s, d) => {
      // per-supplier local clustering coefficient over the q_triangles
      // co-supplier graph — compact-forward kernel, one triangle-corner
      // explode, exact integers until the final division
      val li = s.table("lineitem")
        .filter(col("l_quantity") >= 40.0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val edges = li.select(col("ok"), col("l_suppkey").as("s1"))
        .join(li.select(col("ok"), col("l_suppkey").as("s2")), "ok")
        .filter(col("s1") < col("s2"))
        .select("s1", "s2").distinct()
      operators.Graph.localClustering(edges, "s1", "s2")
        .orderBy(col("node"))
    },
      // Local-clustering replay: naive per-corner wedge-closing count over
      // the normalized adjacency (the q_triangles brute-force discipline),
      // exact integers, one final division.
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |           FROM lineitem a JOIN lineitem b
        |             ON a.l_orderkey = b.l_orderkey
        |            AND a.l_suppkey < b.l_suppkey
        |           WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |adj AS (SELECT u AS m, v AS x FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT m AS node, CAST(count(*) AS BIGINT) AS degree
        |        FROM adj GROUP BY m),
        |tri AS (SELECT a.m AS node, CAST(count(*) AS BIGINT) AS t
        |        FROM adj a JOIN adj b ON a.m = b.m AND a.x < b.x
        |        JOIN e ON e.u = a.x AND e.v = b.x
        |        GROUP BY a.m)
        |SELECT d.node, d.degree,
        |  COALESCE(t.t, 0) AS triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN (2.0::DOUBLE * CAST(COALESCE(t.t, 0) AS DOUBLE))
        |         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |    ELSE 0.0::DOUBLE END AS lcc
        |FROM deg d LEFT JOIN tri t ON t.node = d.node
        |ORDER BY d.node""".stripMargin),
    Gate("q_hits", (s, d) => {
      // 3-round HITS over the directed customer→supplier trade graph
      // (hubs = customers, authorities = suppliers): per-half-step 10-dp
      // rounding + MAX normalization (exact in any order) make each
      // round oracle-replayable
      val cs = s.table("orders").select(col("o_orderkey"), col("o_custkey"))
        .join(s.table("lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      operators.Graph.hits(cs, "src", "dst", iters = 3)
        .orderBy(col("node"))
    }, {
      // HITS replay: three unrolled mutual-reinforcement rounds — each
      // half-step is the rounded contribution sum then the rounded
      // max-normalization, exactly the operator's update order.
      val rounds = (1 to 3).map { i =>
        val hPrev = if (i == 1) "h0" else s"h${i - 1}"
        s"""a${i}r AS (
           |  SELECT e.dst AS node, round(sum(h.hub), 10) AS s
           |  FROM e JOIN $hPrev h ON h.node = e.src GROUP BY e.dst),
           |a$i AS MATERIALIZED (
           |  SELECT node, round(s / (SELECT max(s) FROM a${i}r), 10) AS auth
           |  FROM a${i}r),
           |h${i}r AS (
           |  SELECT e.src AS node, round(sum(a.auth), 10) AS s
           |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
           |h$i AS MATERIALIZED (
           |  SELECT node, round(s / (SELECT max(s) FROM h${i}r), 10) AS hub
           |  FROM h${i}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
         |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM cs WHERE src <> dst),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM nodes),
         |$rounds
         |SELECT n.node,
         |  COALESCE(h3.hub, 0.0::DOUBLE) AS hub,
         |  COALESCE(a3.auth, 0.0::DOUBLE) AS auth
         |FROM nodes n
         |LEFT JOIN h3 ON h3.node = n.node
         |LEFT JOIN a3 ON a3.node = n.node
         |ORDER BY n.node""".stripMargin
    }),
    Gate("q_pagerank", (s, d) => {
      // 3-iteration PageRank over the bidirectional customer↔supplier
      // trade graph (suppliers offset by 1e6 into a disjoint id space);
      // per-iteration 10-dp rounding makes the parallel contribution sums
      // layout-independent and oracle-replayable
      val cs = s.table("orders").select(col("o_orderkey"), col("o_custkey"))
        .join(s.table("lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + lit(1000000L)).as("supp"))
        .distinct()
      val edges = cs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(cs.select(col("supp").as("src"), col("cust").as("dst")))
      operators.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
      // Replays Graph.pageRank with the 3 iterations unrolled: same init,
      // same contribution join, same (1-0.85) literal, same per-iteration
      // round(_, 10) — the rounding is what absorbs cross-engine summation
      // order, as with the k-means centroids.
      """WITH cs AS (SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM cs
        |      UNION ALL SELECT supp AS src, cust AS dst FROM cs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
        |r0 AS (SELECT node, round(1.0/n, 10) AS pr FROM nodes, nn),
        |r1 AS (SELECT x.node,
        |         round((1-0.85)/nn.n + 0.85*coalesce(sum(p.pr/deg.d), 0.0), 10) AS pr
        |       FROM nodes x CROSS JOIN nn
        |       LEFT JOIN e ON e.dst = x.node
        |       LEFT JOIN r0 p ON p.node = e.src
        |       LEFT JOIN deg ON deg.src = e.src
        |       GROUP BY x.node, nn.n),
        |r2 AS (SELECT x.node,
        |         round((1-0.85)/nn.n + 0.85*coalesce(sum(p.pr/deg.d), 0.0), 10) AS pr
        |       FROM nodes x CROSS JOIN nn
        |       LEFT JOIN e ON e.dst = x.node
        |       LEFT JOIN r1 p ON p.node = e.src
        |       LEFT JOIN deg ON deg.src = e.src
        |       GROUP BY x.node, nn.n),
        |r3 AS (SELECT x.node,
        |         round((1-0.85)/nn.n + 0.85*coalesce(sum(p.pr/deg.d), 0.0), 10) AS pr
        |       FROM nodes x CROSS JOIN nn
        |       LEFT JOIN e ON e.dst = x.node
        |       LEFT JOIN r2 p ON p.node = e.src
        |       LEFT JOIN deg ON deg.src = e.src
        |       GROUP BY x.node, nn.n)
        |SELECT node, pr FROM r3 ORDER BY node""".stripMargin)
  )
}
