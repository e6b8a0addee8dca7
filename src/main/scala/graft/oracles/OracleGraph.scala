package graft

/** Graph-family oracle SQL — split verbatim from SparkEntry
  * (r12, r11 verdict #7). The registry stays in SparkEntry;
  * these maps are its DuckDB mirrors, byte-identical to the
  * pre-split strings.
  */
private[graft] object OracleGraph {
  import OracleCtes._

  val sql: Map[String, String] = Map(
    // corpus-wide kNN graph over the shared IVF chain, self excluded
    "knn_graph" ->
      s"""WITH $ivfGraphCtes
         |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
         |FROM gr WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // TwoNN: μ = d₂/d₁ off the graph's 4dp-pinned cosine scores
    // (d = √(2·(1−s))); exact-dup anchors (s1 = 1) filtered on the
    // rounded score; quartiles only — no libm ln transform
    // TwoNN: μ = d₂/d₁ off the graph's 4dp-pinned cosine scores
    // (d = √(2·(1−s))); exact-dup anchors (s1 = 1) filtered on the
    // rounded score; quartiles only — no libm ln transform
    "embed_twonn_dim" ->
      s"""WITH $ivfGraphCtes,
         |e2 AS (SELECT qid,
         |         max(CASE WHEN rk = 1 THEN round(s, 4) END) AS s1,
         |         max(CASE WHEN rk = 2 THEN round(s, 4) END) AS s2
         |       FROM gr WHERE rk <= 2 GROUP BY 1),
         |m AS (SELECT round(sqrt((2.0 * (1.0 - s2))
         |          / (2.0 * (1.0 - s1))), 4) AS mu
         |      FROM e2 WHERE s1 < 1.0 AND s2 IS NOT NULL)
         |SELECT CAST(count(*) AS BIGINT) AS n_points,
         |       round(quantile_cont(mu, 0.25), 4) AS mu_p25,
         |       round(quantile_cont(mu, 0.5), 4) AS mu_med,
         |       round(quantile_cont(mu, 0.75), 4) AS mu_p75
         |FROM m""".stripMargin,
    // PageRank centrality over the kNN graph: 3 unrolled
    // integer-exact power iterations (S_{t+1} = 180·1200^t +
    // Σ S_t·(1020//deg)), then S_3/(N·1200³) rounded to 6dp half-up
    // exactly in HUGEINT and one float division by 10⁶ — the integer
    // scaling is what makes the iteration oracle-matchable
    "graph_centrality" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |dg AS (SELECT qid, CAST(count(*) AS BIGINT) AS d
         |       FROM g GROUP BY 1),
         |ew AS (SELECT g.qid, g.id, CAST(1020 // dg.d AS BIGINT) AS w
         |       FROM g JOIN dg USING (qid)),
         |nd AS (SELECT vec_id AS id FROM embeddings),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
         |st0 AS (SELECT id, CAST(1 AS BIGINT) AS s FROM nd),
         |ct1 AS (SELECT ew.id, CAST(sum(st0.s * ew.w) AS BIGINT) AS c
         |       FROM ew JOIN st0 ON st0.id = ew.qid GROUP BY 1),
         |st1 AS (SELECT nd.id, 180 + COALESCE(ct1.c, 0) AS s
         |       FROM nd LEFT JOIN ct1 USING (id)),
         |ct2 AS (SELECT ew.id, CAST(sum(st1.s * ew.w) AS BIGINT) AS c
         |       FROM ew JOIN st1 ON st1.id = ew.qid GROUP BY 1),
         |st2 AS (SELECT nd.id, 216000 + COALESCE(ct2.c, 0) AS s
         |       FROM nd LEFT JOIN ct2 USING (id)),
         |ct3 AS (SELECT ew.id, CAST(sum(st2.s * ew.w) AS BIGINT) AS c
         |       FROM ew JOIN st2 ON st2.id = ew.qid GROUP BY 1),
         |st3 AS (SELECT nd.id, 259200000 + COALESCE(ct3.c, 0) AS s
         |       FROM nd LEFT JOIN ct3 USING (id))
         |SELECT st3.id AS vec_id,
         |       CAST((CAST(st3.s AS HUGEINT) * 2000000
         |             + CAST(nn.n AS HUGEINT) * 1728000000)
         |            // (CAST(nn.n AS HUGEINT) * 3456000000) AS DOUBLE)
         |         / 1000000 AS centrality
         |FROM st3, nn ORDER BY vec_id""".stripMargin,
    // components of the mutual-kNN graph (embedding-space dedup
    // clusters): the same recursive closure the minhash clusters use
    // components of the mutual-kNN graph (embedding-space dedup
    // clusters): the same recursive closure the minhash clusters use
    "embed_knn_clusters" ->
      s"""WITH RECURSIVE $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |pairs AS (SELECT g1.qid AS id1, g1.id AS id2
         |          FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |          WHERE g1.qid < g1.id),
         |$closureCte
         |SELECT id AS vec_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    // mutual edges of that graph, canonical a < b orientation
    // mutual edges of that graph, canonical a < b orientation
    "mutual_knn_pairs" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id, round(s, 4) AS score FROM gr WHERE rk <= 5)
         |SELECT g1.qid AS id_a, g1.id AS id_b, g1.score
         |FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |WHERE g1.qid < g1.id ORDER BY id_a, id_b""".stripMargin,
    // triangles as ordered triples a<b<c over the canonical mutual
    // edges; coefficient from integer (triangles, degree)
    // Adamic-Adar link prediction: wedges over the symmetric mutual
    // edge list, existing edges anti-joined away, 1/ln(degree)
    // summed per common neighbor
    // Newman modularity per dup-cluster community: exact integer
    // moments (m, internal edges, degree sums) over the mutual graph
    // triangles as ordered triples a<b<c over the canonical mutual
    // edges; coefficient from integer (triangles, degree)
    // Adamic-Adar link prediction: wedges over the symmetric mutual
    // edge list, existing edges anti-joined away, 1/ln(degree)
    // summed per common neighbor
    // Newman modularity per dup-cluster community: exact integer
    // moments (m, internal edges, degree sums) over the mutual graph
    "graph_modularity" ->
      s"""WITH RECURSIVE $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |pairs AS (SELECT g1.qid AS id1, g1.id AS id2
         |          FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |          WHERE g1.qid < g1.id),
         |$closureCte,
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |wc AS (SELECT p.id1, p.id2, c1.cluster_id AS ca,
         |         c2.cluster_id AS cb
         |       FROM pairs p JOIN cl c1 ON p.id1 = c1.id
         |       JOIN cl c2 ON p.id2 = c2.id),
         |mi AS (SELECT ca AS cluster_id, CAST(count(*) AS BIGINT) AS m_in
         |       FROM wc WHERE ca = cb GROUP BY 1),
         |sym AS (SELECT id1 AS a FROM pairs
         |        UNION ALL SELECT id2 FROM pairs),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
         |       FROM sym GROUP BY 1),
         |dc AS (SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(dg.d) AS BIGINT) AS d_sum
         |       FROM cl JOIN dg ON cl.id = dg.id GROUP BY 1)
         |SELECT dc.cluster_id, dc.n_nodes,
         |       CAST(coalesce(mi.m_in, 0) AS BIGINT) AS m_in, dc.d_sum,
         |       round(CAST(coalesce(mi.m_in, 0) AS DOUBLE) / m.m
         |         - (CAST(dc.d_sum AS DOUBLE) / (2 * m.m))
         |           * (CAST(dc.d_sum AS DOUBLE) / (2 * m.m)), 4) AS q_c
         |FROM dc LEFT JOIN mi USING (cluster_id) CROSS JOIN m
         |ORDER BY cluster_id""".stripMargin,
    // conductance: crossing edges counted once per SIDE, guarded
    // min-volume division (whole-graph cluster -> NULL)
    // conductance: crossing edges counted once per SIDE, guarded
    // min-volume division (whole-graph cluster -> NULL)
    "graph_conductance" ->
      s"""WITH RECURSIVE $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |pairs AS (SELECT g1.qid AS id1, g1.id AS id2
         |          FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |          WHERE g1.qid < g1.id),
         |$closureCte,
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |wc AS (SELECT p.id1, p.id2, c1.cluster_id AS ca,
         |         c2.cluster_id AS cb
         |       FROM pairs p JOIN cl c1 ON p.id1 = c1.id
         |       JOIN cl c2 ON p.id2 = c2.id),
         |cut AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cut_edges
         |        FROM (SELECT ca AS cluster_id FROM wc WHERE ca <> cb
         |              UNION ALL SELECT cb FROM wc WHERE ca <> cb)
         |        GROUP BY 1),
         |sym AS (SELECT id1 AS a FROM pairs
         |        UNION ALL SELECT id2 FROM pairs),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
         |       FROM sym GROUP BY 1),
         |dc AS (SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(dg.d) AS BIGINT) AS vol
         |       FROM cl JOIN dg ON cl.id = dg.id GROUP BY 1)
         |SELECT dc.cluster_id, dc.n_nodes, dc.vol,
         |       CAST(coalesce(cut.cut_edges, 0) AS BIGINT) AS cut_edges,
         |       CASE WHEN least(dc.vol, 2 * m.m - dc.vol) > 0
         |         THEN round(CAST(coalesce(cut.cut_edges, 0) AS DOUBLE)
         |           / least(dc.vol, 2 * m.m - dc.vol), 4)
         |         ELSE NULL END AS conductance
         |FROM dc LEFT JOIN cut USING (cluster_id) CROSS JOIN m
         |ORDER BY cluster_id""".stripMargin,
    // graph quality: measured recall of the IVF-blocked kNN graph
    // vs the exact kNN on the vec_id < 50 sample
    // graph quality: measured recall of the IVF-blocked kNN graph
    // vs the exact kNN on the vec_id < 50 sample
    "knn_graph_recall" ->
      s"""WITH $ivfGraphCtes,
         |ap AS (SELECT qid, id FROM gr WHERE rk <= 5 AND qid < 50),
         |qs AS (SELECT qid, qv FROM q WHERE qid < 50),
         |bd AS (SELECT qs.qid, e2.id,
         |         list_cosine_similarity(e2.v, qs.qv) AS s
         |       FROM e e2 CROSS JOIN qs WHERE e2.id <> qs.qid),
         |br AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid
         |         ORDER BY s DESC, id) AS rk
         |       FROM bd WHERE s IS NOT NULL),
         |ex AS (SELECT qid, id FROM br WHERE rk <= 5),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ap JOIN ex ON ap.qid = ex.qid AND ap.id = ex.id),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ap),
         |nx AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
         |SELECT CAST(50 AS BIGINT) AS n_queries, ne.n_edges, nx.n_exact,
         |       h.n_hits,
         |       round(CAST(h.n_hits AS DOUBLE) / nx.n_exact, 4) AS recall
         |FROM h CROSS JOIN ne CROSS JOIN nx""".stripMargin,
    "graph_adamic_adar" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
         |       FROM sym GROUP BY 1),
         |wedge AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |          FROM sym e1 JOIN sym e2 ON e1.b = e2.a
         |          WHERE e1.a < e2.b),
         |cand AS (SELECT w.a, w.b, w.c FROM wedge w
         |         WHERE NOT EXISTS (SELECT 1 FROM mu
         |           WHERE mu.id_a = w.a AND mu.id_b = w.c))
         |SELECT cand.a AS id_a, cand.c AS id_b,
         |       CAST(count(*) AS BIGINT) AS n_common,
         |       round(sum(CAST(1 AS DOUBLE) / ln(dg.d)), 4) AS aa_score
         |FROM cand JOIN dg ON dg.id = cand.b
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
    // kNN label purity: neighborhood coherence per label
    // kNN label purity: neighborhood coherence per label
    "embed_knn_purity" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |lb AS (SELECT vec_id, label FROM embeddings),
         |j AS (SELECT la.label AS ql, lb2.label AS nl
         |      FROM g JOIN lb la ON g.qid = la.vec_id
         |      JOIN lb lb2 ON g.id = lb2.vec_id)
         |SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_edges,
         |       CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_same,
         |       round(CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)
         |           AS DOUBLE) / count(*), 4) AS purity
         |FROM j GROUP BY 1 ORDER BY label""".stripMargin,
    // LOF: micro-quantized reach distances, integer k-dist max,
    // ppm-quantized lrd ratios — no order-dependent float aggregate
    // LOF: micro-quantized reach distances, integer k-dist max,
    // ppm-quantized lrd ratios — no order-dependent float aggregate
    "embed_lof" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id,
         |        CAST(round((1 - round(s, 4)) * 1000000) AS BIGINT)
         |          AS dm
         |      FROM gr WHERE rk <= 5),
         |kd AS (SELECT qid AS id, CAST(max(dm) AS BIGINT) AS kdist
         |       FROM g GROUP BY 1),
         |sr AS (SELECT g.qid,
         |         CAST(sum(greatest(kd.kdist, g.dm)) AS BIGINT)
         |           AS sum_reach
         |       FROM g JOIN kd ON g.id = kd.id GROUP BY 1),
         |rat AS (SELECT g.qid,
         |          (sa.sum_reach * 1000000) // sb.sum_reach AS r
         |        FROM g JOIN sr sa ON g.qid = sa.qid
         |        JOIN sr sb ON g.id = sb.qid
         |        WHERE sb.sum_reach > 0)
         |SELECT qid AS vec_id,
         |       CAST((CAST(sum(r) AS BIGINT) * 20000
         |           + count(*) * 1000000)
         |         // (count(*) * 2000000) AS DOUBLE) / 10000.0 AS lof
         |FROM rat GROUP BY 1 ORDER BY vec_id""".stripMargin,
    // k-occurrence histogram with the antihub zero bucket anchored
    // k-occurrence histogram with the antihub zero bucket anchored
    "knn_hubness" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |ind AS (SELECT id, CAST(count(*) AS BIGINT) AS indeg
         |        FROM g GROUP BY 1),
         |nd AS (SELECT vec_id AS id FROM embeddings),
         |pt AS (SELECT coalesce(ind.indeg, 0) AS indeg
         |       FROM nd LEFT JOIN ind ON nd.id = ind.id)
         |SELECT indeg, CAST(count(*) AS BIGINT) AS n_points
         |FROM pt GROUP BY 1 ORDER BY indeg""".stripMargin,
    // HITS: two integer mutual-recursion rounds, one max-division
    // HITS: two integer mutual-recursion rounds, one max-division
    "graph_hits" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |ha1 AS (SELECT id, CAST(count(*) AS BIGINT) AS a1
         |        FROM g GROUP BY 1),
         |hh1 AS (SELECT g.qid, CAST(sum(ha1.a1) AS BIGINT) AS h1
         |        FROM g JOIN ha1 ON g.id = ha1.id GROUP BY 1),
         |ha2 AS (SELECT g.id, CAST(sum(hh1.h1) AS BIGINT) AS a2
         |        FROM g JOIN hh1 ON g.qid = hh1.qid GROUP BY 1),
         |hh2 AS (SELECT g.qid, CAST(sum(ha2.a2) AS BIGINT) AS h2
         |        FROM g JOIN ha2 ON g.id = ha2.id GROUP BY 1),
         |hmx AS (SELECT (SELECT max(a2) FROM ha2) AS ma,
         |               (SELECT max(h2) FROM hh2) AS mh),
         |nd AS (SELECT vec_id AS id FROM embeddings)
         |SELECT nd.id AS vec_id,
         |       round(CAST(coalesce(ha2.a2, 0) AS DOUBLE) / hmx.ma, 6)
         |         AS authority,
         |       round(CAST(coalesce(hh2.h2, 0) AS DOUBLE) / hmx.mh, 6)
         |         AS hub
         |FROM nd LEFT JOIN ha2 ON nd.id = ha2.id
         |LEFT JOIN hh2 ON nd.id = hh2.qid
         |CROSS JOIN hmx ORDER BY vec_id""".stripMargin,
    // SOAR trade: recall@10 + scan cost for ivf@p1 / ivf@p2 /
    // spill@p1 over the shared chain; hit counts vs brute top-10
    // 2-core by unrolled peeling (8 rounds): the Spark side's exact
    // convergence stop makes extra mirror rounds the identity
    "graph_kcore" -> {
      // peel CTEs prefixed `k` — the shared IVF chain already owns
      // a1/a2 for its k-means assignment rounds
      val rounds = (1 to 8).map { i =>
        val p = s"ka${i - 1}"
        s"""ke$i AS (SELECT e.a, e.b FROM sym e
           |       JOIN $p x ON e.a = x.id JOIN $p y ON e.b = y.id),
           |ka$i AS (SELECT a AS id FROM ke$i GROUP BY a
           |       HAVING count(*) >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |ka0 AS (SELECT DISTINCT a AS id FROM sym),
         |$rounds,
         |fin AS (SELECT e.a FROM sym e
         |        JOIN ka8 x ON e.a = x.id JOIN ka8 y ON e.b = y.id)
         |SELECT a AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM fin GROUP BY 1 ORDER BY vec_id""".stripMargin
    },
    // bounded BFS: unrolled frontier⋈edges rounds with a min-dist
    // collapse per round; sources = graph nodes with id < 20
    // bounded BFS: unrolled frontier⋈edges rounds with a min-dist
    // collapse per round; sources = graph nodes with id < 20
    "graph_bfs_hist" -> {
      val rounds = (1 to 4).map { i =>
        s"""bn$i AS (SELECT v.src, e.b AS node, $i AS dist
           |       FROM bv${i - 1} v JOIN sym e ON v.node = e.a
           |       WHERE v.dist = ${i - 1}),
           |bv$i AS (SELECT src, node, CAST(min(dist) AS BIGINT) AS dist
           |       FROM (SELECT src, node, dist FROM bv${i - 1}
           |             UNION ALL SELECT src, node, dist FROM bn$i)
           |       GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |bv0 AS (SELECT DISTINCT a AS src, a AS node,
         |          CAST(0 AS BIGINT) AS dist
         |        FROM sym WHERE a < 20),
         |$rounds
         |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM bv4 WHERE dist > 0 GROUP BY 1 ORDER BY dist""".stripMargin
    },
    // neighbor-Jaccard link prediction: the AA wedge chain with both
    // endpoints' degrees in the denominator
    // neighbor-Jaccard link prediction: the AA wedge chain with both
    // endpoints' degrees in the denominator
    "graph_jaccard_lp" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
         |       FROM sym GROUP BY 1),
         |wedge AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |          FROM sym e1 JOIN sym e2 ON e1.b = e2.a
         |          WHERE e1.a < e2.b),
         |cand AS (SELECT w.a, w.b, w.c FROM wedge w
         |         WHERE NOT EXISTS (SELECT 1 FROM mu
         |           WHERE mu.id_a = w.a AND mu.id_b = w.c)),
         |cc AS (SELECT a, c, CAST(count(*) AS BIGINT) AS n_common
         |       FROM cand GROUP BY 1, 2)
         |SELECT cc.a AS id_a, cc.c AS id_b, cc.n_common,
         |       round(CAST(cc.n_common AS DOUBLE)
         |         / (da.d + db.d - cc.n_common), 4) AS jaccard
         |FROM cc JOIN dg da ON cc.a = da.id
         |JOIN dg db ON cc.c = db.id
         |ORDER BY id_a, id_b""".stripMargin,
    "graph_triangles" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |        FROM mu e1 JOIN mu e2 ON e1.id_b = e2.id_a
         |        JOIN mu e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b),
         |tn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
         |         SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
         |         UNION ALL SELECT c AS id FROM tri) GROUP BY 1),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
         |       FROM sym GROUP BY 1)
         |SELECT dg.id AS vec_id, dg.degree,
         |       CAST(coalesce(tn.triangles, 0) AS BIGINT) AS triangles,
         |       CASE WHEN dg.degree >= 2
         |         THEN round(coalesce(tn.triangles, 0) * 2.0
         |           / (dg.degree * (dg.degree - 1)), 4)
         |         ELSE 0.0 END AS clustering
         |FROM dg LEFT JOIN tn ON dg.id = tn.id
         |ORDER BY vec_id""".stripMargin,
    // gap regularity from exact integer moments (n, Σg, Σg²); the
    // (sec, event_id) lead order pins equal-timestamp runs
    // cluster dashboard over the SAME trained centroids: per-row
    // cosine 4dp-quantized to integer micro-units before the sums,
    // dominant label by (count DESC, label) argmax
    "embed_cluster_stats" ->
      s"""WITH $ivfCtes,
         |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
         |        FROM embeddings),
         |b AS (SELECT af.cell, l.label,
         |        CAST(round(list_cosine_similarity(af.v, c.cv) * 10000)
         |          AS BIGINT) AS micro
         |      FROM af JOIN c2 c USING (cell) JOIN lab l ON l.id = af.id),
         |gl AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(micro) AS BIGINT) AS sm
         |       FROM b GROUP BY 1, 2),
         |dom AS (SELECT cell, label AS dom_label, n AS n_dom FROM
         |        (SELECT cell, label, n, row_number() OVER (
         |           PARTITION BY cell ORDER BY n DESC, label) AS rn
         |         FROM gl) WHERE rn = 1),
         |tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS size,
         |          CAST(sum(sm) AS BIGINT) AS smm
         |        FROM gl GROUP BY 1)
         |SELECT t.cell, t.size, d.dom_label,
         |       round(d.n_dom * 1.0 / t.size, 4) AS purity,
         |       round(t.smm * 1.0 / t.size / 10000.0, 4) AS mean_cos
         |FROM tot t JOIN dom d USING (cell) ORDER BY cell""".stripMargin,
    // cell-level simplified silhouette: micro-integer intra sums,
    // deterministic min over the metadata-sized centroid grid,
    // silhouette from the UNROUNDED a and b (display rounds only)
    // cell-level simplified silhouette: micro-integer intra sums,
    // deterministic min over the metadata-sized centroid grid,
    // silhouette from the UNROUNDED a and b (display rounds only)
    "knn_silhouette" ->
      s"""WITH $ivfCtes,
         |mem AS (SELECT af.cell,
         |          CAST(round((1 - list_cosine_similarity(af.v, c.cv))
         |            * 1000000) AS BIGINT) AS micro
         |        FROM af JOIN c2 c USING (cell)),
         |ag AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(micro) AS BIGINT) AS sm
         |       FROM mem GROUP BY 1),
         |sep AS (SELECT a.cell,
         |          min(1 - list_cosine_similarity(a.cv, b.cv)) AS b
         |        FROM c2 a JOIN c2 b ON a.cell <> b.cell GROUP BY 1)
         |SELECT ag.cell AS cell, ag.n AS n_members,
         |       round(CAST(ag.sm AS DOUBLE) / ag.n / 1000000.0, 6)
         |         AS a_intra,
         |       round(sep.b, 6) AS b_sep,
         |       round((sep.b - CAST(ag.sm AS DOUBLE) / ag.n / 1000000.0)
         |         / greatest(sep.b,
         |             CAST(ag.sm AS DOUBLE) / ag.n / 1000000.0), 4)
         |         AS silhouette
         |FROM ag JOIN sep ON ag.cell = sep.cell
         |WHERE greatest(sep.b,
         |    CAST(ag.sm AS DOUBLE) / ag.n / 1000000.0) > 0
         |ORDER BY cell""".stripMargin,
    // embedding outliers: integer micro-cosines, exact per-cell
    // (n, Σx, Σx²), z = (x·n−S)/sqrt(n·Q−S²) on those integers —
    // identical doubles both engines, so the global top-20 is stable
    // embedding outliers: integer micro-cosines, exact per-cell
    // (n, Σx, Σx²), z = (x·n−S)/sqrt(n·Q−S²) on those integers —
    // identical doubles both engines, so the global top-20 is stable
    "embed_outliers" ->
      s"""WITH $ivfCtes,
         |b AS (SELECT af.id, af.cell,
         |        CAST(round(list_cosine_similarity(af.v, c.cv) * 10000)
         |          AS BIGINT) AS micro
         |      FROM af JOIN c2 c USING (cell)),
         |st AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(micro) AS BIGINT) AS s,
         |         CAST(sum(micro * micro) AS BIGINT) AS q
         |       FROM b GROUP BY 1),
         |z AS (SELECT b.id, b.cell, b.micro,
         |        (b.micro * st.n - st.s)
         |          / sqrt(CAST(st.n * st.q - st.s * st.s AS DOUBLE)) AS z
         |      FROM b JOIN st USING (cell)
         |      WHERE st.n > 1 AND st.n * st.q - st.s * st.s > 0)
         |SELECT id, cell, round(micro / 10000.0, 4) AS cos,
         |       round(z, 4) AS z
         |FROM z ORDER BY z, id LIMIT 20""".stripMargin,
    // PCA top-component projection: exact-integer micro moments
    // (S_j, Gram M_jk), covariance + 3 unrolled power iterations in
    // the same left-to-right fold order as the driver loop
    // (list_inner_product ≡ the VecDot accumulator), projection per
    // row against the converged axis
    // PCA top-component projection: exact-integer micro moments
    // (S_j, Gram M_jk), covariance + 3 unrolled power iterations in
    // the same left-to-right fold order as the driver loop
    // (list_inner_product ≡ the VecDot accumulator), projection per
    // row against the converged axis
    "embed_pca_project" ->
      """WITH em AS (SELECT vec_id AS id,
        |       list_transform(embedding::DOUBLE[],
        |         e -> CAST(round(e * 10000) AS BIGINT)) AS m
        |     FROM embeddings),
        |ex AS (SELECT id, j.j AS j, m[j.j + 1] AS v
        |       FROM em CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        |nn AS (SELECT count(*) AS n FROM em),
        |sv AS (SELECT j, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY 1),
        |mm AS (SELECT a.j AS j, b.j AS k, CAST(sum(a.v * b.v) AS BIGINT)
        |         AS m
        |       FROM ex a JOIN ex b ON a.id = b.id GROUP BY 1, 2),
        |cv AS (SELECT mm.j, mm.k,
        |         mm.m * 1.0 - sa.s * 1.0 * sb.s / nn.n AS c
        |       FROM mm JOIN sv sa ON mm.j = sa.j
        |       JOIN sv sb ON mm.k = sb.j CROSS JOIN nn),
        |cr AS (SELECT j, list(c ORDER BY k) AS crow FROM cv GROUP BY 1),
        |v0 AS (SELECT list_transform(range(64), x -> 0.125) AS v),
        |w1 AS (SELECT cr.j, list_inner_product(cr.crow, v0.v) AS w
        |       FROM cr CROSS JOIN v0),
        |l1 AS (SELECT list(w ORDER BY j) AS wl FROM w1),
        |n1 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l1),
        |w2 AS (SELECT cr.j, list_inner_product(cr.crow, n1.v) AS w
        |       FROM cr CROSS JOIN n1),
        |l2 AS (SELECT list(w ORDER BY j) AS wl FROM w2),
        |n2 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l2),
        |w3 AS (SELECT cr.j, list_inner_product(cr.crow, n2.v) AS w
        |       FROM cr CROSS JOIN n2),
        |l3 AS (SELECT list(w ORDER BY j) AS wl FROM w3),
        |n3 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l3),
        |mu AS (SELECT list(s * 1.0 / nn.n ORDER BY j) AS mul
        |       FROM sv CROSS JOIN nn GROUP BY nn.n),
        |md AS (SELECT list_inner_product(mu.mul, n3.v) AS mudot
        |       FROM mu CROSS JOIN n3)
        |SELECT em.id AS vec_id,
        |       round(list_inner_product(list_transform(em.m,
        |         e -> CAST(e AS DOUBLE)), n3.v) - md.mudot, 4) AS pc1
        |FROM em CROSS JOIN n3 CROSS JOIN md ORDER BY vec_id""".stripMargin,
    // 2-D PCA map: the shared chain to v₁ (n3), λ₁ via the two
    // ordered folds, then 3 DEFLATED iterations — each matvec is
    // lip(crow, x) − λ·v₁_j·lip(v₁, x), term-for-term the driver's
    // fold — and two per-row projections
    // 2-D PCA map: the shared chain to v₁ (n3), λ₁ via the two
    // ordered folds, then 3 DEFLATED iterations — each matvec is
    // lip(crow, x) − λ·v₁_j·lip(v₁, x), term-for-term the driver's
    // fold — and two per-row projections
    "embed_pca_project2" ->
      """WITH em AS (SELECT vec_id AS id,
        |       list_transform(embedding::DOUBLE[],
        |         e -> CAST(round(e * 10000) AS BIGINT)) AS m
        |     FROM embeddings),
        |ex AS (SELECT id, j.j AS j, m[j.j + 1] AS v
        |       FROM em CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        |nn AS (SELECT count(*) AS n FROM em),
        |sv AS (SELECT j, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY 1),
        |mm AS (SELECT a.j AS j, b.j AS k, CAST(sum(a.v * b.v) AS BIGINT)
        |         AS m
        |       FROM ex a JOIN ex b ON a.id = b.id GROUP BY 1, 2),
        |cv AS (SELECT mm.j, mm.k,
        |         mm.m * 1.0 - sa.s * 1.0 * sb.s / nn.n AS c
        |       FROM mm JOIN sv sa ON mm.j = sa.j
        |       JOIN sv sb ON mm.k = sb.j CROSS JOIN nn),
        |cr AS (SELECT j, list(c ORDER BY k) AS crow FROM cv GROUP BY 1),
        |v0 AS (SELECT list_transform(range(64), x -> 0.125) AS v),
        |w1 AS (SELECT cr.j, list_inner_product(cr.crow, v0.v) AS w
        |       FROM cr CROSS JOIN v0),
        |l1 AS (SELECT list(w ORDER BY j) AS wl FROM w1),
        |n1 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l1),
        |w2 AS (SELECT cr.j, list_inner_product(cr.crow, n1.v) AS w
        |       FROM cr CROSS JOIN n1),
        |l2 AS (SELECT list(w ORDER BY j) AS wl FROM w2),
        |n2 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l2),
        |w3 AS (SELECT cr.j, list_inner_product(cr.crow, n2.v) AS w
        |       FROM cr CROSS JOIN n2),
        |l3 AS (SELECT list(w ORDER BY j) AS wl FROM w3),
        |n3 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l3),
        |mv AS (SELECT cr.j, list_inner_product(cr.crow, n3.v) AS w
        |       FROM cr CROSS JOIN n3),
        |mvl AS (SELECT list(w ORDER BY j) AS wl FROM mv),
        |lam AS (SELECT list_inner_product(n3.v, mvl.wl) AS l
        |        FROM n3 CROSS JOIN mvl),
        |d1 AS (SELECT list_inner_product(n3.v, v0.v) AS vx
        |       FROM n3 CROSS JOIN v0),
        |u1 AS (SELECT cr.j, list_inner_product(cr.crow, v0.v)
        |         - lam.l * n3.v[cr.j + 1] * d1.vx AS w
        |       FROM cr CROSS JOIN v0 CROSS JOIN n3
        |            CROSS JOIN lam CROSS JOIN d1),
        |ul1 AS (SELECT list(w ORDER BY j) AS wl FROM u1),
        |q1 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM ul1),
        |d2 AS (SELECT list_inner_product(n3.v, q1.v) AS vx
        |       FROM n3 CROSS JOIN q1),
        |u2 AS (SELECT cr.j, list_inner_product(cr.crow, q1.v)
        |         - lam.l * n3.v[cr.j + 1] * d2.vx AS w
        |       FROM cr CROSS JOIN q1 CROSS JOIN n3
        |            CROSS JOIN lam CROSS JOIN d2),
        |ul2 AS (SELECT list(w ORDER BY j) AS wl FROM u2),
        |q2 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM ul2),
        |d3 AS (SELECT list_inner_product(n3.v, q2.v) AS vx
        |       FROM n3 CROSS JOIN q2),
        |u3 AS (SELECT cr.j, list_inner_product(cr.crow, q2.v)
        |         - lam.l * n3.v[cr.j + 1] * d3.vx AS w
        |       FROM cr CROSS JOIN q2 CROSS JOIN n3
        |            CROSS JOIN lam CROSS JOIN d3),
        |ul3 AS (SELECT list(w ORDER BY j) AS wl FROM u3),
        |q3 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM ul3),
        |mu AS (SELECT list(s * 1.0 / nn.n ORDER BY j) AS mul
        |       FROM sv CROSS JOIN nn GROUP BY nn.n),
        |md1 AS (SELECT list_inner_product(mu.mul, n3.v) AS mudot
        |        FROM mu CROSS JOIN n3),
        |md2 AS (SELECT list_inner_product(mu.mul, q3.v) AS mudot
        |        FROM mu CROSS JOIN q3)
        |SELECT em.id AS vec_id,
        |       round(list_inner_product(list_transform(em.m,
        |         e -> CAST(e AS DOUBLE)), n3.v) - md1.mudot, 4) AS pc1,
        |       round(list_inner_product(list_transform(em.m,
        |         e -> CAST(e AS DOUBLE)), q3.v) - md2.mudot, 4) AS pc2
        |FROM em CROSS JOIN n3 CROSS JOIN q3 CROSS JOIN md1 CROSS JOIN md2
        |ORDER BY vec_id""".stripMargin,
    // explained-variance report: λ₁ = vᵀCv via the same two ordered
    // folds as the driver (per-j list_inner_product over k, then the
    // j fold), trace via ordered list_sum; report in original units
    // ((λ/n)/1e8 — C is the SUM covariance in micro² units)
    // explained-variance report: λ₁ = vᵀCv via the same two ordered
    // folds as the driver (per-j list_inner_product over k, then the
    // j fold), trace via ordered list_sum; report in original units
    // ((λ/n)/1e8 — C is the SUM covariance in micro² units)
    "embed_pca_var" ->
      """WITH em AS (SELECT vec_id AS id,
        |       list_transform(embedding::DOUBLE[],
        |         e -> CAST(round(e * 10000) AS BIGINT)) AS m
        |     FROM embeddings),
        |ex AS (SELECT id, j.j AS j, m[j.j + 1] AS v
        |       FROM em CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        |nn AS (SELECT count(*) AS n FROM em),
        |sv AS (SELECT j, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY 1),
        |mm AS (SELECT a.j AS j, b.j AS k, CAST(sum(a.v * b.v) AS BIGINT)
        |         AS m
        |       FROM ex a JOIN ex b ON a.id = b.id GROUP BY 1, 2),
        |cv AS (SELECT mm.j, mm.k,
        |         mm.m * 1.0 - sa.s * 1.0 * sb.s / nn.n AS c
        |       FROM mm JOIN sv sa ON mm.j = sa.j
        |       JOIN sv sb ON mm.k = sb.j CROSS JOIN nn),
        |cr AS (SELECT j, list(c ORDER BY k) AS crow FROM cv GROUP BY 1),
        |v0 AS (SELECT list_transform(range(64), x -> 0.125) AS v),
        |w1 AS (SELECT cr.j, list_inner_product(cr.crow, v0.v) AS w
        |       FROM cr CROSS JOIN v0),
        |l1 AS (SELECT list(w ORDER BY j) AS wl FROM w1),
        |n1 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l1),
        |w2 AS (SELECT cr.j, list_inner_product(cr.crow, n1.v) AS w
        |       FROM cr CROSS JOIN n1),
        |l2 AS (SELECT list(w ORDER BY j) AS wl FROM w2),
        |n2 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l2),
        |w3 AS (SELECT cr.j, list_inner_product(cr.crow, n2.v) AS w
        |       FROM cr CROSS JOIN n2),
        |l3 AS (SELECT list(w ORDER BY j) AS wl FROM w3),
        |n3 AS (SELECT list_transform(wl,
        |         e -> e / sqrt(list_inner_product(wl, wl))) AS v FROM l3),
        |w4 AS (SELECT cr.j, list_inner_product(cr.crow, n3.v) AS w
        |       FROM cr CROSS JOIN n3),
        |l4 AS (SELECT list(w ORDER BY j) AS wl FROM w4),
        |lam AS (SELECT list_inner_product(n3.v, l4.wl) AS lam
        |        FROM n3 CROSS JOIN l4),
        |tr AS (SELECT list_sum(list(c ORDER BY j)) AS t
        |       FROM cv WHERE j = k)
        |SELECT round(lam.lam / nn.n / 100000000.0, 6) AS lambda1,
        |       round(tr.t / nn.n / 100000000.0, 6) AS total_var,
        |       round(lam.lam / tr.t, 6) AS var_ratio
        |FROM lam CROSS JOIN tr CROSS JOIN nn""".stripMargin,
    // seasonal-naive backtest: dense zero-filled grid from DATA
    // bounds, lag-7 prediction, integer-exact absolute errors
    // vector-space PSI between ingest waves over the shared IVF
    // cells; per-cell terms micro-rounded BIGINTs (order-free sum)
    "embed_drift_psi" ->
      s"""WITH $ivfCtes,
         |wv AS (SELECT cell, id % 2 = 0 AS ha FROM af),
         |cl AS (SELECT cell,
         |         CAST(sum(CASE WHEN ha THEN 1 ELSE 0 END) AS BIGINT)
         |           AS ca,
         |         CAST(sum(CASE WHEN NOT ha THEN 1 ELSE 0 END)
         |           AS BIGINT) AS cb
         |       FROM wv GROUP BY 1),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
         |          CAST(sum(cb) AS BIGINT) AS tb,
         |          CAST(count(*) AS BIGINT) AS nc
         |        FROM cl),
         |tm AS (SELECT tot.ta, tot.tb, tot.nc,
         |         CAST(round(((ca + 1) * 1.0 / (ta + nc)
         |           - (cb + 1) * 1.0 / (tb + nc))
         |           * ln(((ca + 1) * 1.0 / (ta + nc))
         |           / ((cb + 1) * 1.0 / (tb + nc))) * 1000000) AS BIGINT)
         |           AS tm
         |        FROM cl CROSS JOIN tot)
         |SELECT max(ta) AS n_a, max(tb) AS n_b, max(nc) AS n_cells,
         |       CAST((CAST(sum(tm) AS BIGINT) * 20000 + 1000000)
         |         // 2000000 AS DOUBLE) / 10000.0 AS psi
         |FROM tm""".stripMargin,
    // random-projection kNN: fixed ±1 matrix from md5("j|i") (the
    // sign-LSH weight discipline), top-50 by projected L2, exact
    // cosine rerank to 10
    "embed_rp_knn" ->
      """WITH sg AS (SELECT j, i,
        |       CASE WHEN CAST('0x' || substr(md5(CAST(j AS VARCHAR) ||
        |              '|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
        |              % 2 = 0
        |            THEN 1.0 ELSE -1.0 END AS w
        |     FROM range(16) a(j) CROSS JOIN range(64) b(i)),
        |sm AS (SELECT j, list(w ORDER BY i) AS wv FROM sg GROUP BY j),
        |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |      FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |ep AS (SELECT id, list(list_inner_product(v, wv) ORDER BY j)
        |         AS pv
        |       FROM e CROSS JOIN sm GROUP BY id, v),
        |qp AS (SELECT qid, list(list_inner_product(qv, wv) ORDER BY j)
        |         AS pv
        |       FROM q CROSS JOIN sm GROUP BY qid, qv),
        |cand AS (SELECT qid, id FROM (
        |    SELECT qp.qid, ep.id, row_number() OVER (PARTITION BY qp.qid
        |      ORDER BY list_distance(ep.pv, qp.pv), ep.id) AS rn
        |    FROM ep CROSS JOIN qp) WHERE rn <= 100),
        |rr AS (SELECT c.qid, c.id, list_cosine_similarity(e.v, q.qv) AS s
        |       FROM cand c JOIN e ON c.id = e.id JOIN q ON c.qid = q.qid),
        |rk AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid
        |         ORDER BY s DESC, id) AS rk
        |       FROM rr WHERE s IS NOT NULL)
        |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
        |FROM rk WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,
    // MRL prefix-dim search: cosine over the first 16 dims shortlists
    // 40, exact full-dim cosine reranks to 10 (DuckDB list slice
    // v[1:16] = Spark slice(vec, 1, 16))
    // mean pooling: per-element 6dp micro-units before the sum (exact
    // BIGINT totals), mean = one division of two exact integers
    "embed_mean_pool" ->
      """WITH dt AS (SELECT CAST(vec_id AS BIGINT) // 8 AS doc_id,
        |                   embedding::DOUBLE[] AS v FROM embeddings
        |            WHERE CAST(vec_id AS BIGINT) // 8 < 16),
        |x AS (SELECT doc_id, g.pos,
        |             CAST(round(v[g.pos] * 1000000) AS BIGINT) AS micro
        |      FROM dt CROSS JOIN generate_series(1, 64) AS g(pos)
        |      WHERE g.pos <= len(v)),
        |a AS (SELECT doc_id, pos, CAST(count(*) AS BIGINT) AS n_vecs,
        |             CAST(sum(micro) AS BIGINT) AS sm
        |      FROM x GROUP BY 1, 2)
        |SELECT doc_id, pos, n_vecs,
        |       round(CAST(sm AS DOUBLE)
        |             / CAST(n_vecs * 1000000 AS DOUBLE), 4) AS pooled
        |FROM a ORDER BY doc_id, pos""".stripMargin,
    // time travel through the SCD2 intervals: a past state is a
    // filter on the history, not a replay — both slices from one
    // interval build
    // degree assortativity: exact integer moments over the symmetric
    // mutual edge list, degrees bounded by k
    "graph_assortativity" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT qid, id FROM gr WHERE rk <= 5),
         |mu AS (SELECT g1.qid AS id_a, g1.id AS id_b
         |       FROM g g1 JOIN g g2 ON g1.qid = g2.id AND g1.id = g2.qid
         |       WHERE g1.qid < g1.id),
         |sym AS (SELECT id_a AS a, id_b AS b FROM mu
         |        UNION ALL SELECT id_b, id_a FROM mu),
         |dgr AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS dg
         |       FROM sym GROUP BY 1),
         |pe AS (SELECT da.dg AS da, db.dg AS db
         |       FROM sym JOIN dgr da ON sym.a = da.id
         |       JOIN dgr db ON sym.b = db.id),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS m, sum(da) AS sa,
         |        sum(db) AS sb, sum(da * db) AS sab,
         |        sum(da * da) AS saa, sum(db * db) AS sbb FROM pe)
         |SELECT m AS n_edges,
         |  round((m * sab - sa * sb) * 1.0 /
         |    (sqrt((m * saa - sa * sa) * 1.0 * (m * sbb - sb * sb))), 4)
         |    AS assortativity
         |FROM ag""".stripMargin,
    // adjacent-token PMI: exact integer counts, corpus-total bigram
    // space (the support filter prunes candidates only)
    "sim_brute_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |d AS (SELECT q.qid, e.vec_id AS nn_id,
        |             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS s
        |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
        |r AS (SELECT qid, nn_id, s,
        |             row_number() OVER (PARTITION BY qid ORDER BY s DESC, nn_id)
        |               AS rk
        |      FROM d WHERE s IS NOT NULL)
        |SELECT qid, rk, nn_id, round(s, 4) AS score
        |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,
    // one-row embedding norm audit in integer micro-units
    // per-dimension variance from exact micro moments; dead flag
    // compares identical doubles at 1e-6
    "embed_dim_variance" ->
      """WITH ex AS (SELECT j.j AS dim,
        |        CAST(round(e.embedding[j.j + 1] * 10000) AS BIGINT)
        |          AS m
        |      FROM (SELECT embedding::DOUBLE[] AS embedding
        |            FROM embeddings) e
        |      CROSS JOIN (SELECT unnest(range(64)) AS j) j),
        |g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(m) AS BIGINT) AS sx,
        |        CAST(sum(m * m) AS BIGINT) AS qx
        |      FROM ex GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  round(CAST(sx AS DOUBLE) / n / CAST(10000.0 AS DOUBLE), 4)
        |    AS mean,
        |  round(CAST(n * qx - sx * sx AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE)
        |    / CAST(100000000.0 AS DOUBLE), 6) AS variance,
        |  CAST(n * qx - sx * sx AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE)
        |    / CAST(100000000.0 AS DOUBLE) < 1e-6 AS is_dead
        |FROM g ORDER BY dim""".stripMargin,
    "embed_norm_audit" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT CAST(round(sqrt(list_inner_product(v, v)) * 10000)
        |        AS BIGINT) AS m FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(min(m) * 1.0 / 10000.0, 4) AS min_norm,
        |       round(max(m) * 1.0 / 10000.0, 4) AS max_norm,
        |       round(sum(m) * 1.0 / count(*) / 10000.0, 6) AS avg_norm,
        |       CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero
        |FROM m""".stripMargin,
    // kNN majority-vote classifier: top-5 cosine neighbors (rank ties
    // by id, the repo-wide discipline), votes counted per label,
    // winner = max votes with smaller-label tiebreak
    // kNN regression: mean of 5 neighbor labels (integer-exact) and
    // the (rounded-score + 1)-weighted mean
    "knn_regression" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(label AS DOUBLE)
        |             AS true_value, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
        |             embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id >= 10),
        |d AS (SELECT q.qid, c.id, c.label,
        |             list_cosine_similarity(c.v, q.qv) AS s
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, id, label, round(s, 4) AS s,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY s DESC, id) AS rk
        |      FROM d WHERE s IS NOT NULL),
        |a AS (SELECT qid, CAST(sum(label) AS DOUBLE) / 5 AS pm,
        |             sum((s + 1.0) * label) / sum(s + 1.0) AS pw
        |      FROM r WHERE rk <= 5 GROUP BY 1)
        |SELECT q.qid, q.true_value, round(a.pm, 4) AS pred_mean,
        |       round(a.pw, 4) AS pred_wmean,
        |       round(abs(q.true_value - a.pm), 4) AS abs_err
        |FROM a JOIN q ON a.qid = q.qid ORDER BY q.qid""".stripMargin,
    "knn_classify" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(label AS BIGINT)
        |             AS true_label, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
        |             embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id >= 10),
        |d AS (SELECT q.qid, c.id, c.label,
        |             list_cosine_similarity(c.v, q.qv) AS s
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, id, label, s,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY s DESC, id) AS rk
        |      FROM d WHERE s IS NOT NULL),
        |v AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
        |      FROM r WHERE rk <= 5 GROUP BY 1, 2),
        |p AS (SELECT qid, label AS pred_label, votes,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY votes DESC, label) AS pr
        |      FROM v)
        |SELECT q.qid, q.true_label, p.pred_label, p.votes
        |FROM p JOIN q ON p.qid = q.qid WHERE p.pr = 1
        |ORDER BY q.qid""".stripMargin,
    // nearest-centroid confusion matrix: per-label means with the
    // kmeansCentroids 6dp/float round-trip, assignment via the shared
    // IVF argmin mirror
    // nearest-centroid confusion matrix: per-label means with the
    // kmeansCentroids 6dp/float round-trip, assignment via the shared
    // IVF argmin mirror
    "centroid_confusion" ->
      s"""WITH el AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         |              label FROM embeddings),
         |e AS (SELECT id, v FROM el),
         |al AS (SELECT id, v, CAST(label AS BIGINT) AS cell FROM el),
         |${ivfMeanCte("lc", "al")},
         |${ivfAssignCte("asg", "lc")}
         |SELECT CAST(el.label AS BIGINT) AS label, asg.cell AS pred_label,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM asg JOIN el ON asg.id = el.id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // KMV rollup: per-group rows as in sketch_kmv_distinct, plus a
    // '__all__' row whose estimate comes from the k smallest of the
    // UNION of per-group k-min sets — which equals the k smallest
    // global distinct hashes (the mergeability property), so the
    // mirror computes it directly from the global distinct set
    // KMV set operations: per-group k-min sets → pairwise union /
    // Jaccard / intersection estimates, all pure md5+integer-derived
    // (the union's k-min IS the true k-min of A∪B; Broder resemblance
    // on it; intersection = J·U) — mirrored list-for-list
    // quantization-ladder fidelity: per-row cosine(v, recon) in 4dp
    // integer micro-units (fold-order-proof), reconstructions from
    // the same trained constants each codec's search mirror uses
    "embed_quant_error" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
         |         FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
         |mm AS (SELECT list(mn ORDER BY i) AS mns,
         |              list(mx ORDER BY i) AS mxs FROM dims),
         |mud AS (SELECT i, round(avg(v[i]), 6) AS mu
         |        FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
         |mus AS (SELECT list(mu ORDER BY i) AS m FROM mud),
         |$pqCtes,
         |sqm AS (SELECT CAST(round(list_cosine_similarity(v, rv)
         |          * 10000) AS BIGINT) AS micro
         |        FROM (SELECT e.v,
         |          list_transform(range(1, 65), i -> mm.mns[i] +
         |            (CASE WHEN mm.mxs[i] - mm.mns[i] <= 0 THEN 0.0
         |             ELSE least(255.0, greatest(0.0,
         |               round((e.v[i] - mm.mns[i])
         |                 / (mm.mxs[i] - mm.mns[i]) * 255.0))) END)
         |            * (mm.mxs[i] - mm.mns[i]) / 255.0) AS rv
         |          FROM e, mm)
         |        WHERE list_inner_product(v, v)
         |          * list_inner_product(rv, rv) > 0),
         |bqm AS (SELECT CAST(round(list_cosine_similarity(v, rv)
         |          * 10000) AS BIGINT) AS micro
         |        FROM (SELECT e.v,
         |          list_transform(range(1, 65), i ->
         |            CASE WHEN e.v[i] > mus.m[i]
         |                 THEN 1.0 ELSE -1.0 END) AS rv
         |          FROM e, mus)
         |        WHERE list_inner_product(v, v)
         |          * list_inner_product(rv, rv) > 0),
         |pqm AS (SELECT CAST(round(list_cosine_similarity(e.v, prec.rv)
         |          * 10000) AS BIGINT) AS micro
         |        FROM e JOIN prec ON e.id = prec.id
         |        WHERE list_inner_product(e.v, e.v)
         |          * list_inner_product(prec.rv, prec.rv) > 0),
         |u AS (SELECT 'bq' AS method, CAST(count(*) AS BIGINT) AS n_vecs,
         |             sum(micro) AS ms FROM bqm
         |      UNION ALL SELECT 'pq', CAST(count(*) AS BIGINT),
         |             sum(micro) FROM pqm
         |      UNION ALL SELECT 'sq8', CAST(count(*) AS BIGINT),
         |             sum(micro) FROM sqm)
         |SELECT method, n_vecs,
         |       round(ms * 1.0 / n_vecs / 10000.0, 6) AS avg_cosine
         |FROM u ORDER BY method""".stripMargin,
    // lead-time distribution from exact integer day moments,
  )
}
