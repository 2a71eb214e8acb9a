package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Round-12 batch 2: three embedding-pipeline operators a 100 TB curation
  * stack runs daily, each previously absent from the declared inventory.
  *
  *  - q231 SemDeDup (cluster-then-pairwise semantic dedup, Abbas et al.
  *    2023, arXiv:2303.09540): k-means-cluster the corpus, compare pairs
  *    ONLY within a cluster, drop the higher-id member of any pair whose
  *    cosine clears the threshold. The corpus's real embeddings are noise
  *    (max pairwise cos 0.513, measured — TESTDATA.md), so the query
  *    PLANTS near-duplicate twins the oracle replays value-visibly (the
  *    q230 plant discipline): vec_id % 17 = 5 gets a coarser-grid copy at
  *    id + 10000 (cos ≥ 0.99999 — measured, vs the 0.513 noise ceiling),
  *    and τ = 0.8 separates the two populations with nothing in between.
  *  - q232 binary sign quantization + Hamming shortlist + exact re-rank:
  *    the 1-bit-per-dim ANN path every production vector store ships
  *    (8 bytes/vector — the cheapest possible scan, 16× smaller than the
  *    16-byte PQ codes of q219). Hamming distance = popcount(xor) on two
  *    32-bit words, shortlist k' = 50, exact integer-grid re-rank top 5.
  *  - q233 Matryoshka truncation recall audit: rank by the FIRST 16 dims
  *    only (the MRL deployment knob — Kusupati et al. 2022,
  *    arXiv:2205.13147) vs the full 64-dim exact top-5, report per-query
  *    overlap — the audit that tells a platform how much recall a 4×
  *    cheaper truncated index costs on ITS corpus (on this noise corpus:
  *    a real, measured loss — not a synthetic always-1.0).
  */
object Round12b {
  import Tables._

  /** q231's pairwise stage: every (list_id, id_a, id_b, cos_sim) pair of
    * an (vec_id, list_id, v) assignment with id_a < id_b in the same cell,
    * unfiltered. An EQUI-join on list_id — never corpus-level all-pairs.
    * Checkpointed: the assignment feeds BOTH sides of the self-join
    * (un-checkpointed, each side would replay the argmin lineage — the
    * dupClusters discipline). */
  private[graft] def cellPairs(asg: DataFrame): DataFrame = {
    val withN = asg
      .select(col("vec_id"), col("list_id"),
        col("v").cast("array<double>").as("vd"))
      .withColumn("n2", DotProduct.norm2(col("vd")))
      .localCheckpoint()
    val a = withN.select(col("vec_id").as("id_a"), col("list_id"),
      col("vd").as("va"), col("n2").as("na"))
    val b = withN.select(col("vec_id").as("id_b"), col("list_id"),
      col("vd").as("vb"), col("n2").as("nb"))
    a.join(b, Seq("list_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", DotProduct.dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")))
      .select(col("list_id"), col("id_a"), col("id_b"), col("cos_sim"))
  }

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q231
    // SemDeDup. Scale shape: the pairwise stage is an EQUI-join on
    // list_id — never corpus-level all-pairs; nlist scales with N to keep
    // cluster populations bounded (the paper's posture; at 100 TB add the
    // q225-style deterministic membership cap per cluster), so per-cluster
    // quadratic cost is a constant and total work is linear in N. Training
    // is the q219 coarse stage verbatim: 8 seed centroids (vec_id < 8),
    // one Lloyd iteration on the 1e6 integer grid, primitive-key argmin
    // assignment (SortAggregate avoidance, SCALE.md §12). Removal rule,
    // deterministic by construction: a vector is removed iff some LOWER-id
    // vector in its cluster clears τ; keeper = the smallest such id. All
    // cosine inputs are exact integers (dot and norms ≤ 6.4e13 < 2^53),
    // so cos_sim is bit-identical across engines.
    "q231_semdedup" -> QDef(
      (s, d) => {
        val qv = Round11.quantized(embeddings(s, d))
        val twins = qv.where(col("vec_id") % 17 === 5)
          .select((col("vec_id") + 10000L).as("vec_id"),
            expr("transform(v, x -> x - x % 1000)").as("v"))
        val all = qv.unionAll(twins)
        val (asg, _) = Lloyd.coarse(all, 8)
        val pairs = cellPairs(asg).where(col("cos_sim") > 0.8)
        val keeper = pairs.groupBy(col("id_b").as("removed"))
          .agg(min(col("id_a")).as("keeper"))
        keeper.join(
            pairs.select(col("id_a").as("keeper"), col("id_b").as("removed"),
              col("list_id"), col("cos_sim")),
            Seq("keeper", "removed"))
          .select(col("removed"), col("keeper"), col("list_id"), col("cos_sim"))
          .orderBy("removed")
      },
      """WITH qv AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS v
        |  FROM embeddings),
        |tw AS (SELECT vec_id + 10000 AS vec_id,
        |              list_transform(v, x -> x - x % 1000) AS v
        |       FROM qv WHERE vec_id % 17 = 5),
        |allv AS (SELECT * FROM qv UNION ALL SELECT * FROM tw),
        |c0 AS (SELECT vec_id AS j, v AS c FROM allv WHERE vec_id < 8),
        |a1 AS (
        |  SELECT vec_id, MIN(v) AS v, MIN(
        |    list_aggregate(list_transform(list_zip(v, c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 8 + j) AS key
        |  FROM allv CROSS JOIN c0 GROUP BY vec_id),
        |u1 AS (
        |  SELECT key % 8 AS j, d,
        |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
        |  FROM (SELECT key, unnest(v) AS x,
        |               unnest(generate_series(1, 64)) AS d FROM a1) ex
        |  GROUP BY 1, 2),
        |c1 AS (
        |  SELECT c0.j, CASE WHEN bool_and(u1.cd IS NULL) THEN c0.c
        |               ELSE list(u1.cd ORDER BY u1.d) END AS c
        |  FROM c0 LEFT JOIN u1 ON c0.j = u1.j
        |  GROUP BY c0.j, c0.c),
        |asg AS (
        |  SELECT vec_id, MIN(v) AS v, MIN(
        |    list_aggregate(list_transform(list_zip(v, c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 8 + j) AS key
        |  FROM allv CROSS JOIN c1 GROUP BY vec_id),
        |wn AS (
        |  -- CAST: DuckDB promotes the BIGINT-product distance key to
        |  -- HUGEINT, and % keeps it there; Spark's key is a long
        |  SELECT vec_id, CAST(key % 8 AS BIGINT) AS list_id,
        |         CAST(v AS DOUBLE[]) AS vd,
        |         list_aggregate(list_transform(CAST(v AS DOUBLE[]),
        |           z -> z * z), 'sum') AS n2
        |  FROM asg),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.list_id, a.vec_id AS id_a, b.vec_id AS id_b,
        |           list_aggregate(list_transform(list_zip(a.vd, b.vd),
        |             z -> z[1] * z[2]), 'sum') / sqrt(a.n2 * b.n2) AS cos_sim
        |    FROM wn a JOIN wn b ON a.list_id = b.list_id
        |                       AND a.vec_id < b.vec_id) p
        |  WHERE cos_sim > 0.8),
        |k AS (SELECT id_b AS removed, MIN(id_a) AS keeper
        |      FROM pairs GROUP BY id_b)
        |SELECT k.removed, k.keeper, p.list_id, p.cos_sim
        |FROM k JOIN pairs p ON p.id_a = k.keeper AND p.id_b = k.removed
        |ORDER BY removed""".stripMargin
    ),

    // --------------------------------------------------------------- q232
    // Binary (sign-bit) quantization ANN. Scale shape: the corpus scan
    // reads TWO BIGINT words per vector (8 bytes — nothing is cheaper) and
    // the Hamming distance is two popcount(xor) ops in codegen; the
    // crossJoin build side is the ≤10-row query carve (structural
    // .limit(10) — the NLJ-gate convention); the re-rank touches exactly
    // Q·50 raw vectors rejoined by id. The two windows are qid-partitioned.
    "q232_hamming_ann" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val codes = emb.select(col("vec_id"),
            SignHash.word(col("embedding"), 0).as("w0"),
            SignHash.word(col("embedding"), 32).as("w1"))
          .localCheckpoint() // two consumers: corpus side + query carve
        val q = codes.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("w0").as("qw0"), col("w1").as("qw1"))
          .limit(10)
        val short = codes.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("ham",
            expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)").cast("long"))
          .withColumn("srnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ham"), col("vec_id"))))
          .where(col("srnk") <= 50)
          .select(col("qid"), col("vec_id"), col("ham"))
        val qv = Round11.quantized(emb)
        val qq = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        short.join(qv, Seq("vec_id"))
          .join(broadcast(qq), Seq("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"), col("ham"), col("d2"),
            col("rnk").cast("int").as("rnk"))
          .orderBy("qid", "rnk")
      }, {
        def wordSql(lo: Int): String = (1 to 32).map(i =>
          s"(CASE WHEN e[${lo + i}] > 0 THEN ${1L << (i - 1)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           |             FROM embeddings),
           |qv AS (SELECT vec_id, list_transform(e,
           |         x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS v FROM emb),
           |codes AS (SELECT vec_id,
           |            CAST(${wordSql(0)} AS BIGINT) AS w0,
           |            CAST(${wordSql(32)} AS BIGINT) AS w1
           |          FROM emb),
           |q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM codes
           |      WHERE vec_id < 10),
           |short AS (
           |  SELECT qid, vec_id, ham FROM (
           |    SELECT q.qid, c.vec_id,
           |           CAST(bit_count(xor(c.w0, q.qw0))
           |              + bit_count(xor(c.w1, q.qw1)) AS BIGINT) AS ham,
           |           row_number() OVER (PARTITION BY q.qid
           |             ORDER BY bit_count(xor(c.w0, q.qw0))
           |                    + bit_count(xor(c.w1, q.qw1)), c.vec_id) AS srnk
           |    FROM codes c CROSS JOIN q
           |    WHERE c.vec_id <> q.qid) z
           |  WHERE srnk <= 50),
           |qq AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
           |rr AS (
           |  SELECT s.qid, s.vec_id AS vid, s.ham,
           |         CAST(list_aggregate(list_transform(list_zip(qq.qv, a.v),
           |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS d2
           |  FROM short s JOIN qv a ON a.vec_id = s.vec_id
           |               JOIN qq ON qq.qid = s.qid)
           |SELECT qid, vid, ham, d2,
           |       CAST(row_number() OVER (PARTITION BY qid
           |         ORDER BY d2, vid) AS INT) AS rnk
           |FROM rr QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
      }
    ),

    // --------------------------------------------------------------- q234
    // kNN-graph construction: EVERY vector's 3 nearest neighbors within
    // its IVF cell — the all-vector primitive under SemDeDup, diversity
    // sampling, and HNSW-style index seeding (query-style top-k only
    // serves Q query points; a curation pipeline needs the graph over the
    // whole corpus). Training is the q219 coarse stage verbatim (8 seeds,
    // one Lloyd iteration, integer grid); neighbors come from an EQUI-join
    // on list_id — per-cell pairwise, bounded by cell population (nlist
    // scales with N: the q231 posture, measured near-linear in the
    // `semdedup` ScaleCurve regime) — and one vec_id-partitioned top-k
    // window. Approximation is the IVF boundary (a true neighbor in an
    // adjacent cell is unseen — the standard single-probe kNN-graph
    // trade; multi-probe or code-based refinement are the production
    // escalations, q226/q232).
    "q234_knn_graph" -> QDef(
      (s, d) => {
        val qv = Round11.quantized(embeddings(s, d))
        val (asg, _) = Lloyd.coarse(qv, 8)
        val wn = asg
          .select(col("vec_id"), col("list_id"),
            col("v").cast("array<double>").as("vd"))
          .localCheckpoint() // both sides of the per-cell pairwise join
        val b = wn.select(col("vec_id").as("nbr_id"), col("list_id"),
          col("vd").as("wd"))
        wn.join(b, Seq("list_id"))
          .where(col("vec_id") =!= col("nbr_id"))
          .withColumn("d2", (DotProduct.norm2(col("vd")) + DotProduct.norm2(col("wd"))
            - lit(2.0) * DotProduct.dot(col("vd"), col("wd"))).cast("long"))
          .withColumn("nbr_rank", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("nbr_id"))))
          .where(col("nbr_rank") <= 3)
          .select(col("vec_id"), col("nbr_rank").cast("int").as("nbr_rank"),
            col("nbr_id"), col("list_id"), col("d2"))
          .orderBy("vec_id", "nbr_rank")
      },
      s"""WITH ${Round11.oracleIvfPq},
         |wn AS (SELECT vec_id, CAST(key % 8 AS BIGINT) AS list_id, v
         |       FROM asg),
         |j AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id, a.list_id,
         |         CAST(list_aggregate(list_transform(list_zip(a.v, b.v),
         |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS d2
         |  FROM wn a JOIN wn b ON a.list_id = b.list_id
         |                     AND a.vec_id <> b.vec_id)
         |SELECT vec_id,
         |       CAST(row_number() OVER (PARTITION BY vec_id
         |         ORDER BY d2, nbr_id) AS INT) AS nbr_rank,
         |       nbr_id, list_id, d2
         |FROM j QUALIFY nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin
    ),

    // --------------------------------------------------------------- q233
    // Matryoshka truncation recall audit: exact top-5 under the full
    // 64-dim grid distance vs exact top-5 under the FIRST-16-dim prefix,
    // per-query overlap. Scale shape: two linear corpus passes (one per
    // ranking — re-scanning beats materializing the Q×N distance table),
    // each a qid-partitioned top-k window against the broadcast ≤10-row
    // query carve; at 100 TB the full side would come from the serving
    // index (q219/q228/q232) — here both sides are exact so the audit
    // measures ONLY the truncation loss, nothing else.
    "q233_matryoshka_recall" -> QDef(
      (s, d) => {
        val qv = Round11.quantized(embeddings(s, d))
        val q = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        val joined = qv.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("d_full", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("d_head",
            DotProduct.gridDist(expr("slice(v, 1, 16)"), expr("slice(qv, 1, 16)")))
        def top5(dcol: String) = joined
          .withColumn("r", row_number().over(
            Window.partitionBy("qid").orderBy(col(dcol), col("vec_id"))))
          .where(col("r") <= 5).select(col("qid"), col("vec_id"))
        val hits = top5("d_full").join(top5("d_head"), Seq("qid", "vec_id"))
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        q.select(col("qid")).join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
          .withColumn("recall", col("hits").cast("double") / 5.0)
          .orderBy("qid")
      },
      """WITH qv AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
        |j AS (
        |  SELECT q.qid, c.vec_id,
        |         list_aggregate(list_transform(list_zip(c.v, q.qv),
        |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d_full,
        |         list_aggregate(list_transform(
        |           list_zip(c.v[1:16], q.qv[1:16]),
        |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d_head
        |  FROM qv c CROSS JOIN q WHERE c.vec_id <> q.qid),
        |tf AS (SELECT qid, vec_id FROM j
        |       QUALIFY row_number() OVER (PARTITION BY qid
        |         ORDER BY d_full, vec_id) <= 5),
        |th AS (SELECT qid, vec_id FROM j
        |       QUALIFY row_number() OVER (PARTITION BY qid
        |         ORDER BY d_head, vec_id) <= 5),
        |h AS (SELECT tf.qid, COUNT(*) AS hits
        |      FROM tf JOIN th ON tf.qid = th.qid AND tf.vec_id = th.vec_id
        |      GROUP BY tf.qid)
        |SELECT q.qid, COALESCE(h.hits, 0) AS hits,
        |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
        |FROM q LEFT JOIN h ON h.qid = q.qid
        |ORDER BY q.qid""".stripMargin
    )
  )
}
