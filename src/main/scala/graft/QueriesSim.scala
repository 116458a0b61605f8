package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, EvalOps, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Similarity / ANN family: quantized cosine, IVF/LSH/PQ indexes,
  * mining and pruning over the embeddings table (SURVEY §2.11).
  */
private[graft] object QueriesSim {

  def entries: Seq[Q] = Seq(

    // Similarity — brute-force cosine top-k (query side broadcast), the
    // ANN correctness baseline.
    Q("sim_cosine_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.cosineTopK(q.filter(col("vec_id") < 10), q, "vec_id", 10)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH $quantSqlCte,
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |dt AS (SELECT query_id, neighbor_id, CAST(SUM(av*bv) AS BIGINT) AS dot FROM p GROUP BY query_id, neighbor_id),
        |sc AS (SELECT query_id, neighbor_id, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM dt JOIN nm na ON na.vec_id = query_id JOIN nm nb ON nb.vec_id = neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk,
        |  dot, cos FROM sc)
        |SELECT query_id, neighbor_id, rnk, dot, cos FROM r WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),


    // Similarity — IVF-probe ANN top-k: corpus assigned to nearest seed
    // cell (rank 1), each query probes its 4 nearest of 16 cells, exact
    // rank within the probed population only — ~4/16 of the corpus per
    // query instead of all of it, the inverted-file search shape. The
    // oracle mirrors the probe scheme, so the ANN result (not the brute
    // answer) is what's checked.
    Q("sim_ann_ivf_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.ivfTopK(q.filter(col("vec_id") < 10), q, "vec_id", 10,
            nCells = 16, nProbe = 4)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |cscored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id AS neighbor_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscored) t WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscored WHERE vec_id < 10) t
        |  WHERE rn <= 4),
        |cand AS (SELECT p.query_id, c.neighbor_id FROM probes p
        |  JOIN cells c ON c.cell = p.cell AND c.neighbor_id <> p.query_id),
        |vd AS (SELECT query_id, neighbor_id,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM cand JOIN q qa ON qa.vec_id = query_id JOIN q qb ON qb.vec_id = neighbor_id),
        |sc AS (SELECT query_id, neighbor_id, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = query_id JOIN nm nb ON nb.vec_id = neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk,
        |  dot, cos FROM sc)
        |SELECT query_id, neighbor_id, rnk, dot, cos FROM r WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),


    // Similarity — MLlib random-projection LSH candidates + exact
    // quantized-cosine verify. The candidate radius has a 0.1 cosine
    // slack and 12 seeded hash tables, so at this corpus's margin the
    // candidate stage provably covers every pair at cos ≥ 0.5 (per-pair
    // miss ≈ 0.39^12); the verify stage restores exact precision, making
    // the composition oracle-checkable against the brute-force SQL.
    // Secondary integration flavor on a bounded slice (vec_id < 1000):
    // approxSimilarityJoin's bucket-collision volume is quadratic on this
    // uniform synthetic corpus (no cluster structure for LSH to exploit),
    // so the full-corpus primaries are the deterministic SRP/minhash
    // paths; this entry demonstrates the MLlib integration end-to-end.
    Q("sim_ann_lsh",
      (s, dir) => MLlibOps.annVerifiedNearDups(
          Tables.embeddings(s, dir).filter(col("vec_id") < 1000),
          "vec_id", "embedding", 0.5)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $quantSqlCte,
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id < b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000),
        |dt AS (SELECT a, b, CAST(SUM(av*bv) AS BIGINT) AS dot FROM p GROUP BY a, b),
        |sc AS (SELECT a, b, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM dt JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b)
        |SELECT a, b, dot, cos FROM sc WHERE cos >= 0.5 ORDER BY a, b""".stripMargin)),


    // L102 — IVF CELL OCCUPANCY PROFILE: per-cell member counts + share
    // under the shared rank-1 quantized assignment — the index-health
    // table an IVF rollout reads before choosing nCells/seeds (skewed
    // occupancy = wildly varying probe cost + Σ|cell|² concentration).
    Q("sim_ivf_cell_profile",
      (s, dir) => Similarity.ivfCellProfileFrom(sessionIvfCells(s, dir))
        .orderBy(col("cell")),
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |ct AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM cells GROUP BY cell),
        |tt AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot FROM ct)
        |SELECT ct.cell, ct.n_vecs,
        |  CAST(ct.n_vecs AS DOUBLE) / CAST(tt.tot AS DOUBLE) AS share
        |FROM ct, tt ORDER BY ct.cell""".stripMargin)),


    // L113 — IVF CODEBOOK TRAINING (FAISS train step): two Lloyd
    // iterations on the unit sphere from the shared seed init, with
    // EXACT integer sum-centroids (cosine vs the mean == cosine vs the
    // sum, so training is integer-replayable — the centroidClassify
    // posture applied to the refinement loop). The oracle unrolls both
    // iterations: seed-score argmax -> per-cell dim-parallel sums ->
    // re-score argmax -> final sums + counts.
    Q("sim_ivf_train",
      (s, dir) => Similarity.ivfTrain(sessionQuantEmb(s, dir), "vec_id",
          dim = 64, nCells = 16, iters = 2)
        .orderBy(col("cell")),
      Some(s"""WITH $quantSqlCte,
        |c0 AS (SELECT vec_id AS cell, qv AS cv FROM q WHERE vec_id < 16),
        |n0 AS (SELECT cell, cv, sqrt(CAST(CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS cnorm FROM c0),
        |s0 AS (SELECT q.vec_id, n.cell,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*n.cv[i])) AS BIGINT) AS DOUBLE) / n.cnorm AS score
        |  FROM q CROSS JOIN n0 n),
        |a0 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM s0) t WHERE rn = 1),
        |cx1 AS (SELECT a0.cell, u.i AS i, CAST(SUM(q.qv[CAST(u.i AS INTEGER)]) AS BIGINT) AS s
        |  FROM a0 JOIN q ON q.vec_id = a0.vec_id, range(1, 65) u(i) GROUP BY 1, 2),
        |c1 AS (SELECT cell, list(s ORDER BY i) AS cv FROM cx1 GROUP BY cell),
        |n1 AS (SELECT cell, cv, sqrt(CAST(CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS cnorm FROM c1),
        |s1 AS (SELECT q.vec_id, n.cell,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*n.cv[i])) AS BIGINT) AS DOUBLE) / n.cnorm AS score
        |  FROM q CROSS JOIN n1 n),
        |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM s1) t WHERE rn = 1),
        |cx2 AS (SELECT a1.cell, u.i AS i, CAST(SUM(q.qv[CAST(u.i AS INTEGER)]) AS BIGINT) AS s
        |  FROM a1 JOIN q ON q.vec_id = a1.vec_id, range(1, 65) u(i) GROUP BY 1, 2),
        |c2 AS (SELECT cell, list(s ORDER BY i) AS cv FROM cx2 GROUP BY cell),
        |nv AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a1 GROUP BY cell)
        |SELECT c2.cell, nv.n_vecs,
        |  CAST(list_sum(list_transform(c2.cv, x -> x*x)) AS BIGINT) AS csum_sq
        |FROM c2 JOIN nv ON nv.cell = c2.cell ORDER BY c2.cell""".stripMargin)),


    // L121 — DBSCAN DENSITY CLUSTERING over the IVF pair graph at the
    // looser ε = cos ≥ 0.30 (the SemDeDup 0.45 graph has degree ≤ 1
    // almost everywhere at this sf — everything would be noise): core
    // = degree ≥ 2, clusters = CC over core-core edges only, borders
    // adopt the min core-neighbor cluster, isolated matches drop as
    // noise — the density gate CC (L19) and LPA (L116) lack. Reuses
    // the session cell/quant memos; only the verify gate differs.
    // Oracle replays the pair CTEs and the core/border chain with a
    // recursive closure on cores.
    Q("sim_dbscan",
      // ε = 0.30 is exactly the session's loose-staged verified pair
      // relation — the candidate+verify pass is shared with the 0.45
      // consumers instead of re-run per threshold
      (s, dir) => Similarity.dbscanClusters(
          sessionIvfPairsLoose(s, dir).select(col("a"), col("b")),
          "a", "b", minPts = 2)
        .withColumnRenamed("node", "vec_id")
        .orderBy(col("vec_id")),
      Some(s"""WITH RECURSIVE $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |cscore AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscore) t WHERE rn = 1),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b FROM cells x
        |  JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        |vd AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM cand c JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b),
        |jp AS (SELECT a, b FROM (SELECT a, b,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b) t
        |  WHERE cos >= 0.30),
        |sym AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
        |core AS (SELECT u AS node FROM sym GROUP BY u HAVING COUNT(*) >= 2),
        |ce AS (SELECT s.u, s.v FROM sym s JOIN core cu ON cu.node = s.u
        |  JOIN core cv ON cv.node = s.v WHERE s.u < s.v),
        |cedir AS (SELECT u, v FROM ce UNION SELECT v AS u, u AS v FROM ce),
        |cc AS (SELECT node AS id, node AS r FROM core
        |  UNION SELECT cc.id, d.v FROM cc JOIN cedir d ON d.u = cc.r),
        |clab AS (SELECT id AS node, MIN(r) AS cluster FROM cc GROUP BY id),
        |blab AS (SELECT s.u AS node, MIN(cl.cluster) AS cluster FROM sym s
        |  JOIN clab cl ON cl.node = s.v
        |  WHERE s.u NOT IN (SELECT node FROM core) GROUP BY s.u)
        |SELECT node AS vec_id, 'core' AS role, cluster FROM clab
        |UNION ALL SELECT node AS vec_id, 'border' AS role, cluster FROM blab
        |ORDER BY vec_id""".stripMargin)),


    // L118 — MARGIN-BASED CROSS-SIDE PAIR MINING (the CCMatrix/LASER
    // criterion): sides = label parity; candidates = same IVF cell
    // cross-side; accept = mutual best both directions AND ratio
    // margin best/runner-up ≥ 1.02 with a positive runner-up. Margin
    // and cosine are the established dot/(sqrt·sqrt) idiom plus one
    // more division — every double the quotient of identically-
    // computed operands in both engines.
    Q("sim_margin_mine",
      (s, dir) => Similarity.marginMine(
          Tables.embeddings(s, dir)
            .withColumn("side", (col("label") % 2).cast("int")),
          "vec_id", "embedding", "side", minMargin = 1.02)
        .orderBy(col("a")),
      Some(s"""WITH $quantSqlCte,
        |sides AS (SELECT vec_id, CAST(label % 2 AS INTEGER) AS side FROM embeddings),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |cscore AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscore) t WHERE rn = 1),
        |qa AS (SELECT q.vec_id, q.qv, nm.nn, c.cell FROM q
        |  JOIN nm ON nm.vec_id = q.vec_id JOIN cells c ON c.vec_id = q.vec_id
        |  JOIN sides sd ON sd.vec_id = q.vec_id WHERE sd.side = 0),
        |qb AS (SELECT q.vec_id, q.qv, nm.nn, c.cell FROM q
        |  JOIN nm ON nm.vec_id = q.vec_id JOIN cells c ON c.vec_id = q.vec_id
        |  JOIN sides sd ON sd.vec_id = q.vec_id WHERE sd.side = 1),
        |sc AS (SELECT qa.vec_id AS a, qb.vec_id AS b,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(qa.nn AS DOUBLE)) * sqrt(CAST(qb.nn AS DOUBLE))) AS cos
        |  FROM qa JOIN qb ON qa.cell = qb.cell),
        |ra AS (SELECT a, b, cos, row_number() OVER (PARTITION BY a
        |    ORDER BY cos DESC, b) AS rn FROM sc),
        |b1 AS (SELECT a, b, cos AS c1 FROM ra WHERE rn = 1),
        |r2 AS (SELECT a, cos AS c2 FROM ra WHERE rn = 2),
        |bb AS (SELECT b, a FROM (SELECT a, b, row_number() OVER (PARTITION BY b
        |    ORDER BY cos DESC, a) AS rn FROM sc) t WHERE rn = 1)
        |SELECT b1.a, b1.b, b1.c1 AS cos, b1.c1 / r2.c2 AS margin
        |FROM b1 JOIN r2 ON r2.a = b1.a JOIN bb ON bb.b = b1.b AND bb.a = b1.a
        |WHERE r2.c2 > 0 AND b1.c1 / r2.c2 >= 1.02
        |ORDER BY b1.a""".stripMargin)),


    // L126 — SEMANTIC DECONTAMINATION: embedding-space benchmark
    // leakage scan (paraphrased eval rows share no shingles with the
    // benchmark — c_decontaminate misses them — but sit close in
    // embedding space). Probe set = vec_id % 37 == 0; both sides take
    // cells from the SHARED session IVF assignment, so candidates are
    // an equi join on the cell id against the tiny probe side; exact
    // cosine verify at 0.30, then per flagged vector the nearest probe
    // + hit count — the removal list with its evidence.
    Q("sim_semantic_decon",
      (s, dir) => Similarity.semanticDecontaminate(
          sessionIvfCells(s, dir), sessionQuantEmb(s, dir), "vec_id",
          probeMod = 37L, minCos = 0.30)
        .orderBy(col("vec_id")),
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |cand AS (SELECT c.vec_id AS a, p.vec_id AS b FROM cells c
        |  JOIN cells p ON p.cell = c.cell AND p.vec_id % 37 = 0
        |  WHERE c.vec_id % 37 <> 0),
        |vd AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM cand c JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b),
        |h AS (SELECT a, b, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b
        |  WHERE CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) >= 0.30),
        |ag AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_hits FROM h GROUP BY a),
        |bst AS (SELECT a, b, dot, cos FROM (SELECT *, row_number() OVER (
        |  PARTITION BY a ORDER BY cos DESC, b) AS rn FROM h) t WHERE rn = 1)
        |SELECT bst.a AS vec_id, bst.b AS nearest_probe, bst.dot, bst.cos, ag.n_hits
        |FROM bst JOIN ag ON ag.a = bst.a ORDER BY vec_id""".stripMargin)),


    // L127 — MMR DIVERSIFIED TOP-K: greedy Maximal-Marginal-Relevance
    // re-rank of the brute top-10 pool (selectK = 3, λ = ½ up to the
    // common positive scale: score = rel − max cos to the already-
    // selected). The greedy loop runs per query inside flatMapGroups
    // over ≤ 10 candidates; every decision is exact-long dots + one
    // double division, so the oracle unrolls all three picks
    // relationally and matches bit-for-bit.
    Q("sim_mmr_topk",
      (s, dir) => Similarity.mmrTopK(
          sessionQuantEmb(s, dir).filter(col("vec_id") < 8),
          sessionQuantEmb(s, dir), "vec_id", poolK = 10, selectK = 3)
        .orderBy(col("query_id"), col("sel_rank")),
      Some(s"""WITH $quantSqlCte,
        |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS BIGINT) AS dot
        |  FROM q a, q b WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
        |rl AS (SELECT query_id, neighbor_id,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS rel
        |  FROM sc JOIN nm na ON na.vec_id = query_id JOIN nm nb ON nb.vec_id = neighbor_id),
        |pool AS (SELECT query_id, neighbor_id, rel FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rel DESC, neighbor_id) AS rn FROM rl) t WHERE rn <= 10),
        |ps AS (SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS DOUBLE)
        |    /(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cs
        |  FROM pool x JOIN pool y ON y.query_id = x.query_id AND y.neighbor_id <> x.neighbor_id
        |  JOIN q qa ON qa.vec_id = x.neighbor_id JOIN q qb ON qb.vec_id = y.neighbor_id
        |  JOIN nm na ON na.vec_id = x.neighbor_id JOIN nm nb ON nb.vec_id = y.neighbor_id),
        |p1 AS (SELECT query_id, neighbor_id AS s1, rel AS m1 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rel DESC, neighbor_id) AS rn FROM pool) t WHERE rn = 1),
        |c2 AS (SELECT p.query_id, p.neighbor_id, p.rel - ps.cs AS m
        |  FROM pool p JOIN p1 ON p1.query_id = p.query_id AND p.neighbor_id <> p1.s1
        |  JOIN ps ON ps.query_id = p.query_id AND ps.a = p.neighbor_id AND ps.b = p1.s1),
        |p2 AS (SELECT query_id, neighbor_id AS s2, m AS m2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY m DESC, neighbor_id) AS rn FROM c2) t WHERE rn = 1),
        |c3 AS (SELECT p.query_id, p.neighbor_id, p.rel - greatest(pa.cs, pb.cs) AS m
        |  FROM pool p JOIN p1 ON p1.query_id = p.query_id JOIN p2 ON p2.query_id = p.query_id
        |  JOIN ps pa ON pa.query_id = p.query_id AND pa.a = p.neighbor_id AND pa.b = p1.s1
        |  JOIN ps pb ON pb.query_id = p.query_id AND pb.a = p.neighbor_id AND pb.b = p2.s2
        |  WHERE p.neighbor_id <> p1.s1 AND p.neighbor_id <> p2.s2),
        |p3 AS (SELECT query_id, neighbor_id AS s3, m AS m3 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY m DESC, neighbor_id) AS rn FROM c3) t WHERE rn = 1)
        |SELECT query_id, CAST(1 AS BIGINT) AS sel_rank, s1 AS neighbor_id, m1 AS mmr FROM p1
        |UNION ALL SELECT query_id, CAST(2 AS BIGINT), s2, m2 FROM p2
        |UNION ALL SELECT query_id, CAST(3 AS BIGINT), s3, m3 FROM p3
        |ORDER BY query_id, sel_rank""".stripMargin)),


    // L133 — LATE-INTERACTION (ColBERT MaxSim) RETRIEVAL: both sides
    // split into 4 sub-vector facets; pair score = Σ_i max_j
    // dot(q_i, d_j) — per query facet the best doc facet, summed. All
    // integer (dots, max, sum — order-free, partial-agg-commuting);
    // query bag broadcast, corpus exploded ×4 once, two map-side
    // aggregates + a top-k window.
    Q("sim_late_interaction",
      (s, dir) => Similarity.lateInteractionTopK(
          sessionQuantEmb(s, dir).filter(col("vec_id") < 6),
          sessionQuantEmb(s, dir), "vec_id", dim = 64, nSub = 4, k = 10)
        .orderBy(col("query_id"), col("rnk")),
      Some(s"""WITH $quantSqlCte,
        |qs AS (SELECT vec_id AS query_id, i.i AS qi,
        |  qv[CAST(i.i*16 + 1 AS INTEGER) : CAST(i.i*16 + 16 AS INTEGER)] AS qsub
        |  FROM q, range(4) i(i) WHERE vec_id < 6),
        |ds AS (SELECT vec_id AS neighbor_id, j.j AS dj,
        |  qv[CAST(j.j*16 + 1 AS INTEGER) : CAST(j.j*16 + 16 AS INTEGER)] AS dsub
        |  FROM q, range(4) j(j)),
        |dt AS (SELECT qs.query_id, ds.neighbor_id, qs.qi,
        |  MAX(CAST(list_sum(list_transform(range(1,17), t -> qs.qsub[t]*ds.dsub[t])) AS BIGINT)) AS ms
        |  FROM qs JOIN ds ON ds.neighbor_id <> qs.query_id
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, neighbor_id, CAST(SUM(ms) AS BIGINT) AS score
        |  FROM dt GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, rnk, neighbor_id, score FROM r WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),


    // L136 — DIMENSION-TRUNCATION RECALL AUDIT (Matryoshka serving):
    // top-10 under the full 64 dims vs top-10 under the 16-dim prefix,
    // per-query overlap + recall. Two broadcast top-k passes, one equi
    // join; the oracle mirrors both rank chains.
    Q("sim_truncation_recall",
      (s, dir) => Similarity.truncationRecall(
          sessionQuantEmb(s, dir).filter(col("vec_id") < 8),
          sessionQuantEmb(s, dir), "vec_id", prefixDim = 16, k = 10)
        .orderBy(col("query_id")),
      Some(s"""WITH $quantSqlCte,
        |p64 AS (SELECT query_id, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      CAST(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE)
        |        /(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) DESC, b.vec_id) AS rn
        |  FROM q a JOIN q b ON a.vec_id < 8 AND a.vec_id <> b.vec_id
        |  JOIN nm na ON na.vec_id = a.vec_id JOIN nm nb ON nb.vec_id = b.vec_id) t
        |  WHERE rn <= 10),
        |q16 AS (SELECT vec_id, qv[1:16] AS qv FROM q),
        |n16 AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn FROM q16),
        |p16 AS (SELECT query_id, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      CAST(CAST(list_sum(list_transform(range(1,17), i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE)
        |        /(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) DESC, b.vec_id) AS rn
        |  FROM q16 a JOIN q16 b ON a.vec_id < 8 AND a.vec_id <> b.vec_id
        |  JOIN n16 na ON na.vec_id = a.vec_id JOIN n16 nb ON nb.vec_id = b.vec_id) t
        |  WHERE rn <= 10),
        |cm AS (SELECT p64.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM p64 JOIN p16 ON p16.query_id = p64.query_id
        |    AND p16.neighbor_id = p64.neighbor_id GROUP BY 1)
        |SELECT qq.vec_id AS query_id, COALESCE(cm.n_common, 0) AS n_common,
        |  CAST(COALESCE(cm.n_common, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
        |FROM q qq LEFT JOIN cm ON cm.query_id = qq.vec_id
        |WHERE qq.vec_id < 8 ORDER BY query_id""".stripMargin)),


    // L140 — CLUSTER-BALANCED SAMPLING (the D4 diversify step): k
    // representatives per IVF cell by deterministic md5 rank — a
    // diversity-preserving subset however skewed the cell occupancy.
    // One window over the shared session cell assignment.
    Q("sim_cluster_sample",
      (s, dir) => {
        val w = Window.partitionBy(col("cell"))
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        sessionIvfCells(s, dir)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("cell"), col("rk"), col("vec_id"))
          .orderBy(col("cell"), col("rk"))
      },
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |rk AS (SELECT cell, vec_id, CAST(row_number() OVER (PARTITION BY cell
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk FROM cells)
        |SELECT cell, rk, vec_id FROM rk WHERE rk <= 5 ORDER BY cell, rk""".stripMargin)),


    // L141 — PROTOTYPICALITY PRUNING (D4 / SSL-prototypes): per IVF
    // cell, rank members by cosine to the EXACT integer sum-centroid
    // and flag the top fifth most prototypical for removal — the
    // redundant cluster core; the oracle rebuilds the centroids
    // dim-wise and mirrors rank + drop rule exactly.
    Q("sim_proto_prune",
      (s, dir) => Similarity.prototypicalPrune(
          sessionIvfCells(s, dir), sessionQuantEmb(s, dir), "vec_id",
          dim = 64, dropDenom = 5)
        .orderBy(col("cell"), col("rnk")),
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |cd AS (SELECT c.cell, t.i, CAST(SUM(q.qv[CAST(t.i AS INTEGER)]) AS BIGINT) AS cv
        |  FROM cells c JOIN q ON q.vec_id = c.vec_id, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |ca AS (SELECT cell, list(cv ORDER BY i) AS cv FROM cd GROUP BY cell),
        |cn AS (SELECT ca.cell, CAST(COUNT(*) AS BIGINT) AS cn,
        |    sqrt(CAST(CAST(list_sum(list_transform(ca.cv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS cnorm
        |  FROM ca JOIN cells ON cells.cell = ca.cell GROUP BY ca.cell, ca.cv),
        |pr AS (SELECT c.cell, c.vec_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*ca.cv[i])) AS BIGINT) AS DOUBLE)
        |    /(sqrt(CAST(nm.nn AS DOUBLE))*cn.cnorm) AS proto, cn.cn
        |  FROM cells c JOIN q ON q.vec_id = c.vec_id
        |  JOIN nm ON nm.vec_id = c.vec_id
        |  JOIN ca ON ca.cell = c.cell JOIN cn ON cn.cell = c.cell),
        |rk AS (SELECT cell, vec_id, proto, cn,
        |  CAST(row_number() OVER (PARTITION BY cell ORDER BY proto DESC, vec_id) AS BIGINT) AS rnk
        |  FROM pr)
        |SELECT cell, vec_id, rnk, proto, (rnk * 5 <= cn) AS dropped
        |FROM rk ORDER BY cell, rnk""".stripMargin)),


    // L132 — GREEDY k-CENTER CORESET (farthest-point sampling): 4
    // representatives, each wave one broadcast-scored corpus pass with
    // a TakeOrdered argmin of the max-cos-to-selected. The oracle
    // unrolls all four waves (greatest() chains = the max aggregate)
    // and matches every selection score bit-for-bit.
    Q("sim_coreset_fps",
      (s, dir) => Similarity.coresetGreedy(sessionQuantEmb(s, dir), "vec_id", 4)
        .orderBy(col("rank")),
      Some(s"""WITH $quantSqlCte,
        |r1 AS (SELECT MIN(vec_id) AS id FROM q),
        |v1 AS (SELECT q.vec_id, q.qv, nm.nn FROM q JOIN nm USING(vec_id)
        |  JOIN r1 ON q.vec_id = r1.id),
        |c1 AS (SELECT q.vec_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*v1.qv[i])) AS BIGINT) AS DOUBLE)
        |    /(sqrt(CAST(n.nn AS DOUBLE))*sqrt(CAST(v1.nn AS DOUBLE))) AS c
        |  FROM q JOIN nm n USING(vec_id) CROSS JOIN v1 WHERE q.vec_id <> v1.vec_id),
        |w2 AS (SELECT vec_id, c AS mc FROM c1 ORDER BY c, vec_id LIMIT 1),
        |v2 AS (SELECT q.vec_id, q.qv, nm.nn FROM q JOIN nm USING(vec_id)
        |  JOIN w2 ON q.vec_id = w2.vec_id),
        |c2 AS (SELECT q.vec_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*v2.qv[i])) AS BIGINT) AS DOUBLE)
        |    /(sqrt(CAST(n.nn AS DOUBLE))*sqrt(CAST(v2.nn AS DOUBLE))) AS c
        |  FROM q JOIN nm n USING(vec_id) CROSS JOIN v2 WHERE q.vec_id <> v2.vec_id),
        |m3 AS (SELECT c1.vec_id, greatest(c1.c, c2.c) AS mc
        |  FROM c1 JOIN c2 ON c2.vec_id = c1.vec_id),
        |w3 AS (SELECT vec_id, mc FROM m3 ORDER BY mc, vec_id LIMIT 1),
        |v3 AS (SELECT q.vec_id, q.qv, nm.nn FROM q JOIN nm USING(vec_id)
        |  JOIN w3 ON q.vec_id = w3.vec_id),
        |c3 AS (SELECT q.vec_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*v3.qv[i])) AS BIGINT) AS DOUBLE)
        |    /(sqrt(CAST(n.nn AS DOUBLE))*sqrt(CAST(v3.nn AS DOUBLE))) AS c
        |  FROM q JOIN nm n USING(vec_id) CROSS JOIN v3 WHERE q.vec_id <> v3.vec_id),
        |m4 AS (SELECT m3.vec_id, greatest(m3.mc, c3.c) AS mc
        |  FROM m3 JOIN c3 ON c3.vec_id = m3.vec_id),
        |w4 AS (SELECT vec_id, mc FROM m4 ORDER BY mc, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, CAST(-1.0 AS DOUBLE) AS sel_cos FROM r1
        |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, mc FROM w2
        |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, mc FROM w3
        |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, mc FROM w4
        |ORDER BY rank""".stripMargin)),


    // ANN RECALL AUDIT (the dedup_lsh_recall pattern extended to the
    // vector indexes): exhaustive quantized-cosine pairs at cos ≥ 0.45
    // on the documented bounded slice (vec_id < 1500) are ground truth;
    // the SRP band candidates and IVF same-cell candidates are the two
    // production candidate paths, measured BEFORE their exact verify
    // (verify restores precision, only the candidate stage loses
    // recall). One row per index: a recall printed per corpus beats the
    // 1−(1−p^r)^L S-curve assumed per paper. Both candidate sets are
    // slice-stable: band membership and argmax-cell assignment depend
    // only on the pair's own vectors and the fixed seeds.
    // L270 — reciprocal nearest neighbors: pairs where each side sits
    // in the OTHER's cosine top-5 — the high-precision pair miner for
    // dedup gold sets and alignment corpora (one-directional top-k is
    // hub-polluted: a generic centroid-ish vector shows up in
    // everyone's list; mutuality filters hubs out by construction).
    // Exact brute scoring on a bounded slice (the audit posture); at
    // corpus scale the same mutuality join runs over IVF/LSH top-k.
    Q("sim_rnn_pairs",
      (s, dir) => {
        val q = sessionQuantEmb(s, dir).filter(col("vec_id") < 400)
        val tk = Similarity.cosineTopK(q, q, "vec_id", 5)
          .select(col("query_id").as("a"), col("neighbor_id").as("b"))
        tk.join(tk.select(col("b").as("a"), col("a").as("b")),
            Seq("a", "b"))
          .filter(col("a") < col("b"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 400),
        |nm2 AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn
        |  FROM q),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id <> b.vec_id),
        |dt AS (SELECT qid, nid, CAST(SUM(av*bv) AS BIGINT) AS dot
        |  FROM p GROUP BY qid, nid),
        |sc AS (SELECT qid, nid,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
        |      * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM dt JOIN nm2 na ON na.vec_id = qid
        |    JOIN nm2 nb ON nb.vec_id = nid),
        |r AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid) AS rnk FROM sc),
        |tk AS (SELECT qid AS a, nid AS b FROM r WHERE rnk <= 5)
        |SELECT t1.a, t1.b FROM tk t1
        |  JOIN tk t2 ON t2.a = t1.b AND t2.b = t1.a
        |WHERE t1.a < t1.b ORDER BY t1.a, t1.b""".stripMargin)),

    // L264 — 1-bit binary-quantization ANN audit: division-free mean
    // thresholds (q_d·n vs Σ_d, no div-vs-floor trap), 64 bits packed
    // into ONE long on the Spark side (popcount candidate scoring —
    // the modern 32×-compression first stage), exact-cosine truth at
    // τ = 0.45; the oracle re-derives the same bits as unpacked lists
    // and counts differing positions — two independent mechanisms,
    // same semantics.
    Q("sim_binary_quant",
      (s, dir) => Similarity.binaryQuantAudit(
        sessionQuantEmb(s, dir).filter(col("vec_id") < 1500),
        "vec_id", 64, nQueries = 16L, maxHamming = 12, cosTau = 0.45),
      Some("""WITH q0 AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 1500),
        |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q0),
        |sv AS (SELECT d, CAST(SUM(qv[d]) AS BIGINT) AS s
        |  FROM q0, (SELECT unnest(range(1, 65)) AS d) dims GROUP BY d),
        |bits AS (SELECT vec_id,
        |    list(CASE WHEN qv[sv.d] * n0.n > sv.s THEN 1 ELSE 0 END
        |      ORDER BY sv.d) AS bv
        |  FROM q0 CROSS JOIN sv CROSS JOIN n0 GROUP BY vec_id),
        |nm0 AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn
        |  FROM q0),
        |pr AS (SELECT c.vec_id AS cid, s.vec_id AS qid
        |  FROM q0 c CROSS JOIN q0 s
        |  WHERE s.vec_id < 16 AND c.vec_id <> s.vec_id),
        |hm AS (SELECT pr.cid, pr.qid,
        |    len(list_filter(range(1, 65), i -> ba.bv[i] <> bb.bv[i])) AS ham
        |  FROM pr JOIN bits ba ON ba.vec_id = pr.cid
        |    JOIN bits bb ON bb.vec_id = pr.qid),
        |pp AS (SELECT pr.cid, pr.qid, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM pr JOIN q0 a ON a.vec_id = pr.cid
        |    JOIN q0 b ON b.vec_id = pr.qid),
        |dt AS (SELECT cid, qid, CAST(SUM(av*bv) AS BIGINT) AS dot
        |  FROM pp GROUP BY cid, qid),
        |sc AS (SELECT hm.qid, hm.ham,
        |    CAST(dt.dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
        |      * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM hm JOIN dt ON dt.cid = hm.cid AND dt.qid = hm.qid
        |    JOIN nm0 na ON na.vec_id = hm.cid
        |    JOIN nm0 nb ON nb.vec_id = hm.qid)
        |SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(COUNT(*) FILTER (ham <= 12) AS BIGINT) AS n_cand,
        |  CAST(COUNT(*) FILTER (cos >= 0.45) AS BIGINT) AS n_true,
        |  CAST(COUNT(*) FILTER (ham <= 12 AND cos >= 0.45) AS BIGINT)
        |    AS n_common,
        |  CASE WHEN COUNT(*) FILTER (cos >= 0.45) > 0
        |    THEN CAST(COUNT(*) FILTER (ham <= 12 AND cos >= 0.45)
        |        AS DOUBLE)
        |      / CAST(COUNT(*) FILTER (cos >= 0.45) AS DOUBLE)
        |    ELSE -1.0 END AS recall
        |FROM sc GROUP BY qid ORDER BY qid""".stripMargin)),

    Q("sim_ann_recall",
      (s, dir) => {
        val q = sessionQuantEmb(s, dir).filter(col("vec_id") < 1500).cache()
        q.count() // eager: truth, both candidate paths, and the joins
        // truth and the two candidate indexes are INDEPENDENT given the
        // cached slice — overlap their blocking materializations: the
        // audit pays the max, not the sum.
        def mat(df: DataFrame): DataFrame = {
          val c = df.select(col("a"), col("b")).cache(); c.count(); c
        }
        val Seq(truth, candIvf, candSrp) = overlap(s)(
          () => mat(Similarity.nearDupPairs(q, "vec_id", 0.45)),
          () => mat(Similarity.ivfCandidatesFrom(
            sessionIvfCells(s, dir).filter(col("vec_id") < 1500), "vec_id")),
          () => mat(Similarity.srpCandidates(q, "vec_id", 64)))
        def audit(idx: String, cand: DataFrame) = {
          truth.agg(count(lit(1)).as("n_true"))
            .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
            .crossJoin(truth.join(cand, Seq("a", "b"))
              .agg(count(lit(1)).as("n_common")))
            .select(lit(idx).as("idx"), col("n_true"), col("n_cand"),
              col("n_common"),
              when(col("n_true") === 0L, lit(null).cast("double"))
                .otherwise(col("n_common").cast("double")
                  / col("n_true").cast("double")).as("recall"))
        }
        // the session cell assignment restricted to the slice IS the
        // slice's assignment (row-local given the broadcast seeds)
        audit("ivf", candIvf)
          .unionAll(audit("srp", candSrp))
          .orderBy(col("idx"))
      },
      Some(s"""WITH q AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 1500),
        |nm AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn FROM q),
        |$srpSqlCte,
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id < b.vec_id),
        |dt AS (SELECT a, b, CAST(SUM(av*bv) AS BIGINT) AS dot FROM p GROUP BY a, b),
        |truth AS (SELECT a, b FROM (SELECT a, b,
        |    CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |    FROM dt JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b) t
        |  WHERE cos >= 0.45),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |icand AS (SELECT x.vec_id AS a, y.vec_id AS b FROM cells x
        |  JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        |stats AS (
        |  SELECT 'ivf' AS idx,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM icand) AS n_cand,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
        |       JOIN icand c ON c.a = t.a AND c.b = t.b) AS n_common
        |  UNION ALL
        |  SELECT 'srp',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM scand),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
        |       JOIN scand c ON c.a = t.a AND c.b = t.b))
        |SELECT idx, n_true, n_cand, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(NULLIF(n_true, 0) AS DOUBLE) AS recall
        |FROM stats ORDER BY idx""".stripMargin)),


    // L39 — nearest-centroid classification: per-label centroid = exact
    // integer SUM of quantized vectors (cosine is scale-invariant, so
    // the unnormalized sum is the mean direction — no division, no
    // float drift); broadcast 10 centroids, fused-dot argmax per vector.
    Q("sim_centroid_classify",
      (s, dir) => Similarity.centroidClassify(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", dim = 64)
        .orderBy(col("vec_id")),
      Some(s"""WITH $quantSqlCte,
        |cx AS (SELECT e.label AS c_label, u.i AS i,
        |    CAST(SUM(q.qv[CAST(u.i AS INTEGER)]) AS BIGINT) AS s
        |  FROM q JOIN embeddings e ON e.vec_id = q.vec_id, range(1,65) u(i)
        |  GROUP BY 1, 2),
        |cent AS (SELECT c_label, list(s ORDER BY i) AS cv FROM cx GROUP BY c_label),
        |cn AS (SELECT c_label,
        |    sqrt(CAST(CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS cnorm
        |  FROM cent),
        |sc AS (SELECT q.vec_id, e.label, c.c_label,
        |    CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*c.cv[i])) AS BIGINT) AS DOUBLE)
        |      / n.cnorm AS score
        |  FROM q JOIN embeddings e ON e.vec_id = q.vec_id
        |  CROSS JOIN cent c JOIN cn n ON n.c_label = c.c_label),
        |r AS (SELECT vec_id, label, c_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c_label) AS rn
        |  FROM sc)
        |SELECT vec_id, label, c_label AS pred_label, label = c_label AS correct
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)),


    // L46 — SCALAR-QUANTIZED ANN with asymmetric distance (the FAISS SQ
    // shape): corpus compressed to 4-bit-per-dim codes (32 bytes per
    // 64-dim vector vs 256), queries score full-precision against the
    // codes' integral reconstruction via the fused dot — approximate
    // ranks that are exact longs, bit-stable cross-engine. Per-query
    // top-k through the bounded-state TopKAgg, never a full sort.
    Q("sim_sq_adc_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.sqAdcTopK(q.filter(col("vec_id") < 8), q, "vec_id", 10)
      },
      Some(sqAdcOracleSql)),


    // L55 — the SAME SQ-ADC scores from the COMPRESSED scan: codes
    // nibble-packed 16 per long (4 longs per 64-dim vector — the true
    // 4-bit footprint), per-query reconstruction·query products folded
    // into a 16·dim lookup table, and the inner loop is the native
    // PackedAdcSum codegen expression (FAISS's ADC table-lookup scan as
    // a Catalyst Expression). Bit-identical rows to sim_sq_adc_topk —
    // two independent plans, one oracle.
    Q("sim_sq_packed_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.sqAdcPackedTopK(q.filter(col("vec_id") < 8), q, "vec_id", 10)
      },
      Some(sqAdcOracleSql)),


    // L61 — PRODUCT-QUANTIZATION ADC top-k (Jégou 2011): the compression
    // rung between SQ (one code per dimension, sim_sq_adc_topk) and full
    // vectors — 8 subspaces × 16-entry codebooks = 8 small codes per
    // vector (32× memory cut), queries full-precision (asymmetric ADC).
    // Codebooks are the subvectors of 16 fixed seed rows so the oracle
    // mirrors training relationally (at 100 TB: per-subspace k-means,
    // encode/ADC unchanged); codebook broadcasts, encode is a map-side
    // argmin partial agg, scores are exact longs via the fused dot.
    Q("sim_pq_adc_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.pqAdcTopK(q.filter(col("vec_id") < 8), q, "vec_id", 10)
      },
      Some(s"""WITH $quantSqlCte,
        |$pqReconSqlCtes,
        |sc AS (SELECT qq.vec_id AS query_id, r.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> qq.qv[i] * r.recon[i])) AS BIGINT) AS score_pq
        |  FROM rec r JOIN q qq ON qq.vec_id < 8 AND r.vec_id <> qq.vec_id),
        |rk AS (SELECT query_id, neighbor_id, score_pq,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_pq DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, rnk, neighbor_id, score_pq
        |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),


    // L62 — IVF-PQ ANN top-k, the full FAISS IndexIVFPQ composition:
    // the coarse quantizer routes each query to its 4 nearest of 16
    // inverted lists (candidates ~4/16 of the corpus) and scoring inside
    // the probed lists runs over PQ reconstructions (8 codes per vector,
    // not 64 floats) — cells bound WHO is scored, PQ bounds what a score
    // COSTS. Both quantizers broadcast; candidates are an equi join on
    // the cell id; exact-long ADC scores; bounded-state top-k.
    Q("sim_ivfpq_topk",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.ivfPqTopK(q.filter(col("vec_id") < 10), q, "vec_id", 10,
          nCells = 16, nProbe = 4)
      },
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |cscored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cl AS (SELECT vec_id AS neighbor_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscored) t WHERE rn = 1),
        |pr AS (SELECT vec_id AS query_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM cscored WHERE vec_id < 10) t
        |  WHERE rn <= 4),
        |$pqReconSqlCtes,
        |cand AS (SELECT p.query_id, c.neighbor_id FROM pr p
        |  JOIN cl c ON c.cell = p.cell AND c.neighbor_id <> p.query_id),
        |sc AS (SELECT cand.query_id, cand.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> qq.qv[i] * r.recon[i])) AS BIGINT) AS score_pq
        |  FROM cand JOIN rec r ON r.vec_id = cand.neighbor_id
        |  JOIN q qq ON qq.vec_id = cand.query_id),
        |rk AS (SELECT query_id, neighbor_id, score_pq,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_pq DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
        |SELECT query_id, rnk, neighbor_id, score_pq
        |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),


    // L67 — contrastive HARD-NEGATIVE mining: per query, top-10
    // candidates with cosine in [0.1, 0.3) — informative negatives above
    // random similarity but below the near-dup band (a near-dup
    // "negative" is a mislabeled positive). Same exact quantized-dot
    // scoring as sim_cosine_topk with the band as a post-filter.
    Q("sim_hard_negatives",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        Similarity.hardNegativesTopK(q.filter(col("vec_id") < 10), q,
            "vec_id", k = 10, lo = 0.1, hi = 0.3)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH $quantSqlCte,
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |dt AS (SELECT query_id, neighbor_id, CAST(SUM(av*bv) AS BIGINT) AS dot FROM p GROUP BY query_id, neighbor_id),
        |sc AS (SELECT query_id, neighbor_id, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM dt JOIN nm na ON na.vec_id = query_id JOIN nm nb ON nb.vec_id = neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk,
        |  dot, cos FROM sc WHERE cos >= 0.1 AND cos < 0.3)
        |SELECT query_id, neighbor_id, rnk, dot, cos FROM r WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    // L242 — PQ QUANTIZATION-DISTORTION AUDIT: per subspace, exact
    // squared error of each vector against its assigned codeword
    // (same 16-seed codebooks as the ADC scorers) — the index-health
    // table read before trusting PQ scores; an outlier subspace is
    // under-coded, distortion drift means the frozen codebook no
    // longer fits.
    Q("sim_pq_distortion",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id",
          "embedding")
        Similarity.pqDistortion(q, "vec_id").orderBy(col("sub_id"))
      },
      Some(s"""WITH $quantSqlCte,
        |$pqReconSqlCtes,
        |win AS (SELECT sub_id, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
        |      ORDER BY d2, code) AS rn FROM dd) WHERE rn = 1)
        |SELECT CAST(sub_id AS BIGINT) AS sub_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
        |  CAST(MAX(d2) AS BIGINT) AS max_d2
        |FROM win GROUP BY sub_id ORDER BY sub_id""".stripMargin)),

    // L249 — EMBEDDING CENTROID DRIFT between corpus halves: per gold
    // label, the scaled squared distance between the even-id and
    // odd-id centroid — Σ_d (s_a·n_b − s_b·n_a)² with per-dim
    // numerators exact BIGINTs and the squared sum in
    // DECIMAL(38,0)/HUGEINT (means cross-multiplied, never divided) —
    // the embedding-space drift monitor run between snapshots before
    // a frozen IVF/PQ index (L113/L242) is trusted on new data.
    Q("sim_centroid_drift",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val e = Similarity.quantize(emb, "vec_id", "embedding")
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
          .withColumn("pa", pmod(col("vec_id"), lit(2L)) === 0L)
        val n = e.groupBy(col("label"))
          .agg(sum(when(col("pa"), 1L).otherwise(0L)).as("n_a"),
            sum(when(!col("pa"), 1L).otherwise(0L)).as("n_b"))
        val sums = e.select(col("label"), col("pa"),
            posexplode(col("qv")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(when(col("pa"), col("x")).otherwise(0L)).as("sa"),
            sum(when(!col("pa"), col("x")).otherwise(0L)).as("sb"))
        sums.join(broadcast(n), "label")
          .withColumn("diff", col("sa") * col("n_b") - col("sb") * col("n_a"))
          .groupBy(col("label"))
          .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
            max(abs(col("diff"))).as("max_abs_diff"),
            sum(col("diff").cast("decimal(38,0)") * col("diff"))
              .cast("double").as("drift2"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $quantSqlCte,
        |e AS (SELECT q.vec_id, emb.label, q.vec_id % 2 = 0 AS pa, q.qv
        |  FROM q JOIN embeddings emb USING (vec_id)),
        |nn AS (SELECT label,
        |    CAST(SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM e GROUP BY 1),
        |x AS (SELECT label, pa, unnest(range(1, 65)) AS pos, qv FROM e),
        |sm AS (SELECT label, pos,
        |    CAST(SUM(CASE WHEN pa THEN qv[CAST(pos AS INTEGER)]
        |      ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN NOT pa THEN qv[CAST(pos AS INTEGER)]
        |      ELSE 0 END) AS BIGINT) AS sb
        |  FROM x GROUP BY 1, 2),
        |df AS (SELECT sm.label, sa * nn.n_b - sb * nn.n_a AS diff
        |  FROM sm JOIN nn USING (label))
        |SELECT df.label, nn.n_a, nn.n_b,
        |  CAST(MAX(abs(diff)) AS BIGINT) AS max_abs_diff,
        |  CAST(SUM(CAST(diff AS HUGEINT) * diff) AS DOUBLE) AS drift2
        |FROM df JOIN nn USING (label)
        |GROUP BY df.label, nn.n_a, nn.n_b ORDER BY label""".stripMargin)),

    // L218 — adjusted Rand index + purity of the SRP band-0 bucketing
    // against the embeddings' gold labels: the chance-corrected
    // cluster-agreement audit ("does my LSH bucketing recover the gold
    // grouping beyond random clusterings of the same sizes") — the
    // number to read before LSH buckets drive sampling decisions. All
    // pair counts exact BIGINTs, ARI one double division of two exact
    // integers.
    Q("sim_cluster_ari",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cs = graft.ops.SrpLsh.coefficients(60, 64)
        val base = Similarity.quantize(emb, "vec_id", "embedding")
          .withColumn("bucket",
            pmod(graft.ops.SrpLsh.signature(col("qv"), cs), lit(64L)))
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        EvalOps.adjustedRandIndex(base, "bucket", "label")
      },
      Some(s"""WITH $quantSqlCte,
        |$srpSqlCte,
        |ct AS (SELECT srp.sig % 64 AS la, e.label AS lb,
        |    CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM srp JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
        |ix AS (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT)
        |      AS idx_pairs,
        |    CAST(SUM(nij) AS BIGINT) AS n FROM ct),
        |aa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |    CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS a_pairs,
        |    CAST(SUM(mx) AS BIGINT) AS sum_max
        |  FROM (SELECT la, SUM(nij) AS ai, MAX(nij) AS mx
        |    FROM ct GROUP BY 1) t),
        |bb2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS b_pairs
        |  FROM (SELECT lb, SUM(nij) AS bj FROM ct GROUP BY 1) t),
        |fin AS (SELECT ix.n, aa.n_clusters, bb2.n_classes, ix.idx_pairs,
        |    aa.a_pairs, bb2.b_pairs,
        |    CAST((aa.sum_max * 1000000) // ix.n AS BIGINT) AS purity_e6,
        |    (ix.n * (ix.n - 1)) // 2 AS t_pairs
        |  FROM ix CROSS JOIN aa CROSS JOIN bb2)
        |SELECT n, n_clusters, n_classes, idx_pairs, a_pairs, b_pairs,
        |  purity_e6,
        |  CASE WHEN (a_pairs + b_pairs) * t_pairs - 2 * a_pairs * b_pairs <> 0
        |    THEN CAST(2 * (idx_pairs * t_pairs - a_pairs * b_pairs) AS DOUBLE)
        |      / CAST((a_pairs + b_pairs) * t_pairs - 2 * a_pairs * b_pairs
        |        AS DOUBLE)
        |    ELSE -2.0 END AS ari
        |FROM fin""".stripMargin)),

    // L320 — B-CUBED evaluation of the SAME SRP-LSH bucket clustering
    // the ARI audit (L218) reads: the per-item precision/recall view
    // that punishes over-merging and over-splitting separately —
    // exact-by-cell floors both engines replay.
    Q("sim_bcubed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cs = graft.ops.SrpLsh.coefficients(60, 64)
        val base = Similarity.quantize(emb, "vec_id", "embedding")
          .withColumn("bucket",
            pmod(graft.ops.SrpLsh.signature(col("qv"), cs), lit(64L)))
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        EvalOps.bcubed(base, "bucket", "label")
      },
      Some(s"""WITH $quantSqlCte,
        |$srpSqlCte,
        |ct AS (SELECT srp.sig % 64 AS k, e.label AS j,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM srp JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
        |nk AS (SELECT k, CAST(SUM(c) AS BIGINT) AS nk FROM ct GROUP BY 1),
        |mjt AS (SELECT j, CAST(SUM(c) AS BIGINT) AS mj FROM ct GROUP BY 1),
        |ag AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT ct.k) AS BIGINT) AS n_clusters,
        |    CAST(COUNT(DISTINCT ct.j) AS BIGINT) AS n_classes,
        |    CAST(SUM(c * ((c * 1000000) // nk.nk)) AS BIGINT) AS tp,
        |    CAST(SUM(c * ((c * 1000000) // mjt.mj)) AS BIGINT) AS tr
        |  FROM ct JOIN nk ON nk.k = ct.k JOIN mjt ON mjt.j = ct.j)
        |SELECT n, n_clusters, n_classes,
        |  CAST(tp // n AS BIGINT) AS p_e6, CAST(tr // n AS BIGINT) AS r_e6,
        |  CAST(CASE WHEN (tp // n) + (tr // n) > 0
        |    THEN (2 * (tp // n) * (tr // n)) // ((tp // n) + (tr // n))
        |    ELSE 0 END AS BIGINT) AS f_e6
        |FROM ag""".stripMargin))
  )
}
