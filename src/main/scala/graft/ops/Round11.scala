package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Round-11 batch 1: the two recall-bearing ANN compositions the round-10
  * measured curves (SCALE.md §11, ann regime) showed were missing.
  *
  *  - q219 IVF-PQ residual: route every vector to its nearest coarse
  *    centroid (q62's IVF layer), PQ-encode the RESIDUAL vector − centroid
  *    (q205's codebook contract), and search with per-(query, list) ADC
  *    lookup tables. Residual encoding is why IVF-PQ beats raw PQ: the
  *    residual distribution is tighter than the vector distribution, so a
  *    fixed code budget spends its resolution where the distances actually
  *    differ. Raw 32-bit ADC measured recall@5 = 0.04 at 250k vectors; the
  *    IVF-PQ + re-rank composition is the production fix (curve row in
  *    SCALE.md §11).
  *  - q220 multi-table OR'd LSH: L independent sign-hyperplane tables,
  *    candidates = UNION over tables of bucket-mates. Single-table recall
  *    measured 0.04–0.24 (geometric decay in bits on isotropic vectors);
  *    OR'ing L tables turns miss-probability multiplicative:
  *    1 − (1 − p)^L.
  *
  * Like q205/q206, EVERYTHING in q219 is exact integer arithmetic on the
  * 1e6-quantized grid, so the DuckDB oracle replays the WHOLE pipeline —
  * both codebook trainings included: coarse k-means over the full 64-dim
  * quantized vectors (argmin key = dist·8 + j; dist ≤ 64·(2e6)² ≈ 2.6e14,
  * key ≤ 2.1e15 < 2^63), integer residuals, then per-subspace residual
  * k-means (16 subspaces × 4 dims × 16 centroids; residual diff ≤ 4e6 ⇒
  * subspace dist ≤ 6.4e13, key = dist·16 + j ≤ 1.1e15) and an ADC sum
  * ≤ 16·6.4e13 ≈ 1.0e15 — every intermediate fits int64, centroid updates
  * are FLOOR(sum/n) with sums < 2^53 (exact-double division), ties break
  * on centroid id through the encoded key. Bit-identical in both engines.
  */
object Round11 {
  import Tables._

  /** (vec_id, v: 64 longs on the 1e6 grid) — FLOOR and ×1e6 are exact IEEE
    * ops, so both engines quantize identically (the q192/q205 bridge). */
  private[graft] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))").as("v"))

  /** The full IVF-PQ pipeline, parameterized for the spec's full-probe
    * coverage check: coarse 8-list quantizer (seeds vec_id < 8, one Lloyd
    * iteration), integer residuals, residual PQ (16 subspaces × 4 dims ×
    * 16 centroids, seeds vec_id < 16, one Lloyd iteration), then the
    * queries (vec_id < 10) probe their `nprobe` nearest lists with a
    * per-(query, list) 256-long ADC LUT over the packed codes.
    *
    * Scale shape: codebooks are broadcast-scale at every step (8 and 256
    * rows); the corpus is touched by ONE coarse assign (after one training
    * pass), one 16× subspace explode, and the final ADC scan — which reads
    * ONLY the packed 16-code arrays (16 bytes/vector at production nbits),
    * never raw vectors, joined map-side against the ≤(Q·nprobe)-row LUT
    * table; the only per-query shuffle is the qid-partitioned top-k
    * window. Training at 100 TB runs on a fixed-size sample instead (the
    * q205/ScaleCurve posture — pqEncode's one-pass contract applies
    * unchanged); the declared query trains on the gate-scale corpus so the
    * oracle can replay it. */
  // `indexFilter` is the q246 pre-filter hook: a metadata predicate on the
  // packed-codes table applied BEFORE the ADC scan (pre-filtering — the
  // serving posture where the predicate prunes list members before any
  // distance math; post-filtering under-fills k under selective
  // predicates). Training stays unfiltered: the index is built over the
  // full corpus, the filter is a query-time knob.
  private[graft] def ivfPqTopK(emb: DataFrame, nprobe: Int, k: Int,
      indexFilter: Column = lit(true)): DataFrame = {
    val qv = quantized(emb)
    val (asg, c1) = Lloyd.coarse(qv, 8)
    // integer residuals (checkpointed: feeds PQ seeds, two PQ training
    // passes, and the final encode)
    val resid = asg
      .join(broadcast(c1.select(col("j").as("list_id"), col("c"))), Seq("list_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("c"), (a, b) => a - b).as("r"))
      .localCheckpoint()
    val sub = resid.select(col("vec_id"), col("list_id"),
        explode(expr("sequence(0, 15)")).as("s"), col("r"))
      .select(col("vec_id"), col("list_id"), col("s"),
        expr("slice(r, 4 * s + 1, 4)").as("v"))
    val p0 = sub.where(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("j"), col("v").as("c"))
    def pAssign(c: DataFrame) =
      Lloyd.assignCarried(sub, c, Seq("s"), Seq("vec_id", "list_id", "s"), 16, 4)
    val p1 = Lloyd.update(pAssign(p0), p0, Seq("s"), Lloyd.carried(4)).localCheckpoint()
    val packed = pAssign(p1)
      .groupBy("vec_id", "list_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x("code")).as("ca"))
    // queries: rank the 8 coarse centroids, probe the nprobe nearest, and
    // build the LUT on the PER-LIST residual (query − that list's centroid
    // — the asymmetric-distance trick that makes residual codes usable)
    val q = qv.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val probed = q.crossJoin(broadcast(c1.select(col("j").as("list_id"), col("c")).limit(8)))
      .withColumn("cdist", DotProduct.gridDist(col("qv"), col("c")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("cdist"), col("list_id"))))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("list_id"),
        zip_with(col("qv"), col("c"), (a, b) => a - b).as("qr"))
    val lut = probed.select(col("qid"), col("list_id"),
        explode(expr("sequence(0, 15)")).as("s"), col("qr"))
      .select(col("qid"), col("list_id"), col("s"),
        expr("slice(qr, 4 * s + 1, 4)").as("v"))
      .join(broadcast(p1), Seq("s"))
      .select(col("qid"), col("list_id"),
        (col("s") * 16 + col("j")).as("idx"), Lloyd.sqDist(4).as("ld"))
      .groupBy("qid", "list_id")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("ld")))),
        x => x("ld")).as("la"))
    val lookupSum = (0 until 16)
      .map(s => s"element_at(la, CAST(${s * 16} + element_at(ca, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val wRank = Window.partitionBy("qid").orderBy(col("adc_dist"), col("vid"))
    packed.where(indexFilter).join(broadcast(lut), Seq("list_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), col("list_id"),
        expr(lookupSum).as("adc_dist"))
      .withColumn("rnk", row_number().over(wRank))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vid"), col("list_id"), col("adc_dist"),
        col("rnk").cast("int").as("rnk"))
  }

  /** The coarse-stage CTE prefix alone (through `asg`): quantized grid,
    * seed centroids, one Lloyd iteration, final assignment. Shared by the
    * graph/audit oracles (q243/q244/q247/q248) that never touch the PQ
    * stages. */
  private[ops] val oracleCoarse =
    """qv AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS v
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS j, v AS c FROM qv WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, MIN(v) AS v, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 8 + j) AS key
      |  FROM qv CROSS JOIN c0 GROUP BY vec_id),
      |u1 AS (
      |  SELECT key % 8 AS j, d,
      |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
      |  FROM (SELECT key, unnest(v) AS x,
      |               unnest(generate_series(1, 64)) AS d FROM a1) ex
      |  GROUP BY 1, 2),
      |c1 AS (
      |  -- empty-cluster guard: list() over the unmatched LEFT JOIN row is
      |  -- [NULL] (non-NULL), so a bare coalesce would never fall back
      |  SELECT c0.j, CASE WHEN bool_and(u1.cd IS NULL) THEN c0.c
      |               ELSE list(u1.cd ORDER BY u1.d) END AS c
      |  FROM c0 LEFT JOIN u1 ON c0.j = u1.j
      |  GROUP BY c0.j, c0.c),
      |asg AS (
      |  SELECT vec_id, MIN(v) AS v, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 8 + j) AS key
      |  FROM qv CROSS JOIN c1 GROUP BY vec_id)""".stripMargin

  /** The q219 oracle's training replay, shared CTE prefix: binds `c1`
    * (coarse centroids), `res` (per-vector list + integer residual),
    * `p1` (residual PQ centroids), and `pc` (packed codes). */
  private[ops] val oracleIvfPq =
    s"""$oracleCoarse,
      |res AS (""".stripMargin + """
      |  SELECT a.vec_id, a.key % 8 AS list_id,
      |         list_transform(list_zip(a.v, c1.c), p -> p[1] - p[2]) AS r
      |  FROM asg a JOIN c1 ON c1.j = a.key % 8),
      |sub AS (
      |  SELECT vec_id, list_id, CAST(ss.s AS INTEGER) AS s,
      |         r[4 * ss.s + 1 : 4 * ss.s + 4] AS v
      |  FROM res CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) ss),
      |p0 AS (SELECT s, vec_id AS j, v AS c FROM sub WHERE vec_id < 16),
      |pa1 AS (
      |  SELECT vec_id, list_id, s, MIN(v) AS v, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 16 + j) AS key
      |  FROM sub JOIN p0 USING (s) GROUP BY vec_id, list_id, s),
      |pu1 AS (
      |  SELECT s, key % 16 AS j, d,
      |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
      |  FROM (SELECT s, key, unnest(v) AS x,
      |               unnest(generate_series(1, 4)) AS d FROM pa1) ex
      |  GROUP BY 1, 2, 3),
      |p1 AS (
      |  SELECT p0.s, p0.j, CASE WHEN bool_and(pu1.cd IS NULL) THEN p0.c
      |                     ELSE list(pu1.cd ORDER BY pu1.d) END AS c
      |  FROM p0 LEFT JOIN pu1 ON p0.s = pu1.s AND p0.j = pu1.j
      |  GROUP BY p0.s, p0.j, p0.c),
      |codes AS (
      |  SELECT vec_id, list_id, s, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 16 + j) % 16 AS code
      |  FROM sub JOIN p1 USING (s) GROUP BY vec_id, list_id, s),
      |pc AS (SELECT vec_id, list_id, list(code ORDER BY s) AS ca
      |       FROM codes GROUP BY vec_id, list_id)""".stripMargin

  /** The q219 oracle's QUERY side, shared with q222/q228/q246: probe
    * ranking, ADC LUTs, the unrolled 16-lookup scan, and the per-query
    * rank `r`. `pred` is q246's pre-filter on the packed-codes side
    * (mirrors ivfPqTopK's indexFilter). */
  private[ops] def oracleAdcRankWhere(pred: String): String =
    s"""q AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
       |pr AS (
       |  SELECT qid, list_id, qr FROM (
       |    SELECT q.qid, c1.j AS list_id,
       |           list_transform(list_zip(q.qv, c1.c), p -> p[1] - p[2]) AS qr,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY
       |             list_aggregate(list_transform(list_zip(q.qv, c1.c),
       |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), c1.j) AS prn
       |    FROM q CROSS JOIN c1) z
       |  WHERE prn <= 2),
       |lutA AS (
       |  SELECT qid, list_id, list(ld ORDER BY idx) AS la
       |  FROM (SELECT pr.qid, pr.list_id, p1.s * 16 + p1.j AS idx,
       |               list_aggregate(list_transform(
       |                 list_zip(pr.qr[4 * p1.s + 1 : 4 * p1.s + 4], p1.c),
       |                 p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS ld
       |        FROM pr CROSS JOIN p1) x
       |  GROUP BY qid, list_id),
       |adc AS (
       |  SELECT l.qid, pc.vec_id AS vid, pc.list_id,
       |         CAST(${(0 until 16).map(s =>
                    s"la[CAST(${s * 16} + ca[${s + 1}] + 1 AS INTEGER)]")
                    .mkString(" + ")} AS BIGINT) AS adc_dist
       |  FROM pc JOIN lutA l ON pc.list_id = l.list_id AND pc.vec_id <> l.qid
       |  WHERE ($pred)),
       |r AS (SELECT qid, vid, list_id, adc_dist,
       |             CAST(row_number() OVER (PARTITION BY qid
       |               ORDER BY adc_dist, vid) AS INTEGER) AS rnk
       |      FROM adc)""".stripMargin

  private[ops] val oracleAdcRank = oracleAdcRankWhere("TRUE")

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q219
    // IVF-PQ residual ANN: the 10 query vectors probe their 2 nearest of 8
    // coarse lists and rank list members by the 16-subspace residual-code
    // ADC sum — the composition SCALE.md §11 names as the production fix
    // for raw PQ's measured recall decay (0.04 at 250k vectors). At 100 TB:
    // 16-byte codes per vector (with nbits=8), one coarse route per query,
    // and the scan reads nprobe/nlist of the corpus's CODES only.
    "q219_ivfpq" -> QDef(
      (s, d) => ivfPqTopK(embeddings(s, d), nprobe = 2, k = 5).orderBy("qid", "rnk"),
      s"""WITH $oracleIvfPq,
         |$oracleAdcRank
         |SELECT qid, vid, CAST(list_id AS BIGINT) AS list_id, adc_dist, rnk
         |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
    ),

    // --------------------------------------------------------------- q220
    // Multi-table OR'd hyperplane LSH: 4 independent 3-bit sign tables
    // (hyperplane j of table t is q52's integer family at index t·3 + j,
    // so table 0 IS q52's table); candidates are the UNION of bucket-mates
    // across tables, then exact cosine re-ranks. n_tables counts how many
    // tables proposed each survivor — the diagnostic that shows the OR
    // doing the work. Scale shape: a 4× posexplode, one (t, bucket)
    // equi-join against the broadcast query side, a (qid, vid) count
    // rollup, and one qid-partitioned top-k window; candidate volume is
    // Q · L · N/2^bits — linear in N, never all-pairs.
    "q220_lsh_multitable" -> QDef(
      (s, d) => {
        val L = 4
        val b = 3
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("n2", DotProduct.norm2(col("e")))
        val tabs = emb.select(col("vec_id"), col("e"), col("n2"),
            posexplode(array((0 until L).map(t =>
              SignHash.bucket(col("e"), b, first = t * b)): _*)))
          .withColumnsRenamed(Map("pos" -> "t", "col" -> "bucket"))
        val qt = tabs.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("t"), col("bucket"))
        val cand = tabs.select("vec_id", "t", "bucket")
          .join(broadcast(qt), Seq("t", "bucket"))
          .where(col("vec_id") =!= col("qid"))
          .groupBy("qid", "vec_id")
          .agg(count(lit(1)).as("n_tables"))
        val q = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn"))
        cand.join(emb.select("vec_id", "e", "n2"), "vec_id")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"), col("n_tables"),
            col("cos_sim"), col("rnk").cast("int").as("rnk"))
          .orderBy("qid", "rnk")
      }, {
        def bucketSql(t: Int): String = (0 until 3).map { jb =>
          val j = t * 3 + jb
          s"""(CASE WHEN list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]),
             |   list_transform(range(0, 64), k -> CAST(($j*64+k)*2654435761 % 97 - 48 AS DOUBLE))),
             |   z -> z[1]*z[2]), 'sum') > 0 THEN ${1L << jb} ELSE 0 END)""".stripMargin
        }.mkString(" + ")
        s"""WITH emb AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |    list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), z -> z*z), 'sum') AS n2,
           |    ${(0 until 4).map(t => s"${bucketSql(t)} AS b$t").mkString(",\n    ")}
           |  FROM embeddings),
           |tabs AS (
           |  SELECT vec_id, CAST(tt.t AS INTEGER) AS t,
           |         CASE tt.t WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bucket
           |  FROM emb CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS t) tt),
           |qt AS (SELECT vec_id AS qid, t, bucket FROM tabs WHERE vec_id < 10),
           |cand AS (
           |  SELECT qt.qid, tabs.vec_id, COUNT(*) AS n_tables
           |  FROM tabs JOIN qt ON tabs.t = qt.t AND tabs.bucket = qt.bucket
           |                   AND tabs.vec_id <> qt.qid
           |  GROUP BY 1, 2),
           |q AS (SELECT vec_id AS qid, e AS qe, n2 AS qn FROM emb WHERE vec_id < 10),
           |ranked AS (
           |  SELECT c.qid, c.vec_id AS vid, c.n_tables,
           |    list_aggregate(list_transform(list_zip(q.qe, emb.e), z -> z[1]*z[2]), 'sum')
           |      / sqrt(q.qn * emb.n2) AS cos_sim
           |  FROM cand c JOIN emb ON emb.vec_id = c.vec_id JOIN q ON q.qid = c.qid)
           |SELECT qid, vid, n_tables, cos_sim,
           |       CAST(row_number() OVER (PARTITION BY qid
           |         ORDER BY cos_sim DESC, vid) AS INT) AS rnk
           |FROM ranked QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
      }
    ),

    // --------------------------------------------------------------- q222
    // ANN recall audit, oracle-checked: per query, how many of the exact
    // L2-grid top-5 the q219 IVF-PQ pipeline's ADC top-5 recovered — the
    // q83 recall-audit discipline applied to the vector path, so the
    // recall claim itself is a hash-compared number, not a harness
    // printout. Exact side = brute squared-L2 on the SAME 1e6-quantized
    // grid (integer-exact, replayable); approx side = q219's full
    // pipeline. recall_at_5 = n_hit/5.0 is one IEEE division of exact
    // integers — bit-identical in both engines (never round()ed).
    // Scale shape: the exact side is the ONE deliberate brute pass (the
    // oracle needs ground truth), Q·N dots with the broadcast 10-query
    // side — the audit runs on a carve in production exactly like q83.
    "q222_ann_recall" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val qv = quantized(emb)
        val q = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        val exact = qv.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"))
        val approx = ivfPqTopK(emb, nprobe = 2, k = 5).select("qid", "vid")
        val hits = exact.join(approx, Seq("qid", "vid"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select("qid").join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall_at_5", col("n_hit") / lit(5.0))
          .orderBy("qid")
      },
      s"""WITH $oracleIvfPq,
         |$oracleAdcRank,
         |apx AS (SELECT qid, vid FROM r WHERE rnk <= 5),
         |ex AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.qid, a.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             list_aggregate(list_transform(list_zip(q.qv, a.v),
         |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), a.vec_id) AS rnk
         |    FROM q CROSS JOIN qv a WHERE a.vec_id <> q.qid) z
         |  WHERE rnk <= 5),
         |hits AS (
         |  SELECT ex.qid, COUNT(*) AS n_hit
         |  FROM ex JOIN apx ON ex.qid = apx.qid AND ex.vid = apx.vid
         |  GROUP BY 1)
         |SELECT q.qid AS qid, CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
         |       CAST(coalesce(hits.n_hit, 0) AS BIGINT) / 5.0 AS recall_at_5
         |FROM q LEFT JOIN hits ON q.qid = hits.qid ORDER BY q.qid""".stripMargin
    )
  )
}
