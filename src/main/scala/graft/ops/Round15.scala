package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotProduct

/** Round-15 additions — the serving-knob family's last missing member:
  *
  *  - q254 PQ codebook-CAPACITY operating curve: recall@5 (after the
  *    production k'=50 exact re-rank) and training SSE as a function of
  *    kc = centroids/subspace ∈ {16, 64, 256} — i.e. 4/6/8-bit codes.
  *    nprobe (q248), shortlist width (q249), and LSH bands (q252) all
  *    have declared curves; kc was measured only in the opt-in ScaleCurve
  *    sweep (round 14: recall 0.388/0.576/0.722 at 250k clustered — kc is
  *    the binding quality axis on structured data, not routing). This
  *    declares that knob under the same DuckDB hash gate.
  *
  * Reference provenance: the reference checkout is empty (SURVEY.md §0);
  * the query extends this repo's own q205/q206/q228 constructions.
  */
object Round15 {
  import Tables._

  /** The q254 capacity levels: 4-, 6-, and 8-bit codes per subspace. */
  private[graft] val kcLevels = Seq(16, 64, 256)

  /** ALL capacity levels' re-ranked top-5 + per-level training SSE:
    * (top5(qid, vid, kc), sse(kc, sse)) from the combined kc-tagged
    * training (Round10n.pqCodebooksK — all levels ride one Lloyd ladder;
    * each slice is bit-identical to the per-level pqCodebookK training,
    * so the per-level oracle replay is unchanged). ADC scan + shortlist
    * k' = 50 + exact grid re-rank is the q228 production posture, so the
    * curve measures the knob where it actually operates (raw ADC-only
    * recall would conflate code resolution with ranking noise the re-rank
    * removes). r15-opt: the per-level chains are FUSED on the kc tag —
    * one pack shuffle, one LUT build, one ADC scan, one (kc, qid)
    * shortlist window, one re-rank join+window, one sse rollup, instead
    * of one of each PER LEVEL. Per (kc, qid) partition the orderings are
    * the per-level orderings, so every emitted row is unchanged. */
  private[graft] def kcLevelsFused(codesK: DataFrame, centK: DataFrame,
      qsub: DataFrame, qvT: DataFrame, q: DataFrame): (DataFrame, DataFrame) = {
    val sse = codesK.groupBy("kc").agg(sum("dist").as("sse"))
    val short = Round10n.adcDistancesAllK(codesK, centK, qsub)
      .withColumn("srnk", row_number().over(
        Window.partitionBy("kc", "qid").orderBy(col("adc_dist"), col("vid"))))
      .where(col("srnk") <= 50)
      .select("kc", "qid", "vid")
    val top5 = short
      .join(qvT.select(col("vec_id").as("vid"), col("v")), Seq("vid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("kc", "qid").orderBy(col("d2"), col("vid"))))
      .where(col("rnk") <= 5)
      .select(col("qid"), col("vid"), col("kc"))
    (top5, sse)
  }

  /** Unrolled 8-dim squared distance in DuckDB SQL (the oracle twin of
    * Lloyd.sqDist — a list_zip fold here costs several× more per row
    * and the kc=256 assign pass evaluates it N·8·256 times). */
  private def d8(v: String, c: String): String = (1 to 8)
    .map(i => s"($v[$i] - $c[$i]) * ($v[$i] - $c[$i])")
    .mkString(" + ")

  /** One capacity level's oracle CTE chain (suffix _$kc): the q205
    * 2-iteration Lloyd replay + packed codes + LUT + ADC shortlist 50 +
    * exact re-rank top-5 + the SSE scalar. */
  private def oracleKc(kc: Int): String = {
    val lookup = (0 until 8)
      .map(s => s"la[CAST(${s * kc} + ca[${s + 1}] + 1 AS INTEGER)]")
      .mkString(" + ")
    s"""c0_$kc AS (SELECT s, vec_id AS j, v AS c FROM sub WHERE vec_id < $kc),
       |a1_$kc AS (
       |  SELECT vec_id, s, MIN(v) AS v,
       |         MIN((${d8("v", "c")}) * 65536 + j) AS key
       |  FROM sub JOIN c0_$kc USING (s) GROUP BY vec_id, s),
       |u1_$kc AS (
       |  SELECT s, key % 65536 AS j, d,
       |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
       |  FROM (SELECT s, key, unnest(v) AS x,
       |               unnest(generate_series(1, 8)) AS d FROM a1_$kc) ex
       |  GROUP BY 1, 2, 3),
       |c1_$kc AS (
       |  SELECT c0_$kc.s, c0_$kc.j,
       |         CASE WHEN bool_and(u1_$kc.cd IS NULL) THEN c0_$kc.c
       |              ELSE list(u1_$kc.cd ORDER BY u1_$kc.d) END AS c
       |  FROM c0_$kc LEFT JOIN u1_$kc
       |    ON c0_$kc.s = u1_$kc.s AND c0_$kc.j = u1_$kc.j
       |  GROUP BY c0_$kc.s, c0_$kc.j, c0_$kc.c),
       |a2_$kc AS (
       |  SELECT vec_id, s, MIN(v) AS v,
       |         MIN((${d8("v", "c")}) * 65536 + j) AS key
       |  FROM sub JOIN c1_$kc USING (s) GROUP BY vec_id, s),
       |u2_$kc AS (
       |  SELECT s, key % 65536 AS j, d,
       |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
       |  FROM (SELECT s, key, unnest(v) AS x,
       |               unnest(generate_series(1, 8)) AS d FROM a2_$kc) ex
       |  GROUP BY 1, 2, 3),
       |c2_$kc AS (
       |  SELECT c1_$kc.s, c1_$kc.j,
       |         CASE WHEN bool_and(u2_$kc.cd IS NULL) THEN c1_$kc.c
       |              ELSE list(u2_$kc.cd ORDER BY u2_$kc.d) END AS c
       |  FROM c1_$kc LEFT JOIN u2_$kc
       |    ON c1_$kc.s = u2_$kc.s AND c1_$kc.j = u2_$kc.j
       |  GROUP BY c1_$kc.s, c1_$kc.j, c1_$kc.c),
       |codes_$kc AS (
       |  SELECT vec_id, s, CAST(key % 65536 AS BIGINT) AS code,
       |         CAST(key // 65536 AS BIGINT) AS dist
       |  FROM (SELECT vec_id, s,
       |          MIN((${d8("v", "c")}) * 65536 + j) AS key
       |        FROM sub JOIN c2_$kc USING (s) GROUP BY vec_id, s) f),
       |sse_$kc AS (SELECT CAST(SUM(dist) AS BIGINT) AS sse FROM codes_$kc),
       |pc_$kc AS (SELECT vec_id, list(code ORDER BY s) AS ca
       |           FROM codes_$kc GROUP BY vec_id),
       |lut_$kc AS (
       |  SELECT qid, list(ld ORDER BY idx) AS la
       |  FROM (SELECT qid, s * $kc + j AS idx, ${d8("v", "c")} AS ld
       |        FROM qsub JOIN c2_$kc USING (s)) x
       |  GROUP BY qid),
       |short_$kc AS (
       |  SELECT qid, vid FROM (
       |    SELECT l.qid, pc.vec_id AS vid,
       |           row_number() OVER (PARTITION BY l.qid ORDER BY
       |             CAST($lookup AS BIGINT), pc.vec_id) AS srnk
       |    FROM pc_$kc pc CROSS JOIN lut_$kc l
       |    WHERE pc.vec_id <> l.qid) z
       |  WHERE srnk <= 50),
       |rr_$kc AS (
       |  SELECT qid, vid FROM (
       |    SELECT sh.qid, sh.vid,
       |           row_number() OVER (PARTITION BY sh.qid ORDER BY
       |             list_aggregate(list_transform(list_zip(a.v, q.qv),
       |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'),
       |             sh.vid) AS rnk
       |    FROM short_$kc sh
       |    JOIN qv a ON a.vec_id = sh.vid
       |    JOIN q ON q.qid = sh.qid) z
       |  WHERE rnk <= 5)""".stripMargin
  }

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q254
    // PQ codebook-CAPACITY operating curve — the missing member of the
    // serving-knob family (q248 nprobe / q249 shortlist width / q252 LSH
    // bands): per (query, kc ∈ {16, 64, 256}) the k'=50-re-ranked
    // recall@5 against brute exact ground truth, plus each level's total
    // training SSE (the quantization-error face of the same knob: SSE
    // falls as kc rises; recall buys what SSE sells). Capacity levels do
    // NOT nest after a Lloyd update (a kc=64 codebook is not a prefix of
    // kc=256: the update moves every centroid), so unlike q248/q249 the
    // levels can't share one ranked pass — but the TRAININGS share one
    // kc-tagged Lloyd ladder (Round10n.pqCodebooksK: the subspace view
    // replicated per level, kc in every key; 2 checkpoints + one barrier
    // set instead of one per level, each slice bit-identical to the
    // standalone training so the per-level oracle replay is unchanged).
    // Scale shape: training cost is one broadcast join per iteration
    // (codebooks Σ 8·kc ≤ 2688 rows — always broadcastable); the
    // corpus-side cost is ONE kc-tagged codes-only ADC scan over Σ levels
    // rows + one re-rank touching exactly Q·50 raw vectors per level (the
    // q228 posture, fused across levels on the kc tag — r15 opt); at
    // 100 TB the trainings run on a fixed-size sample and the curve picks
    // kc BEFORE the one full-corpus encode.
    "q254_pq_capacity_curve" -> QDef(
      (s, d) => {
        import s.implicits._
        val levels = kcLevels.map(_.toLong).toDF("kc")
        val emb = embeddings(s, d)
        val qvT = Round11.quantized(emb).localCheckpoint() // truth + re-rank
        val q = qvT.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        val truth = qvT.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"))
        // NOT checkpointed (r15 opt): the fused hit semi-join is truth's
        // ONLY consumer now, and its lineage starts at the checkpointed
        // qvT — an eager checkpoint job here was pure barrier latency
        // (the Round10n single-consumer rule).
        // ONE combined Lloyd ladder for all three levels (2 checkpoints
        // instead of 6 — the per-level job overhead was q254's dominant
        // bench cost); codes feed the fused sse rollup + packed-ADC scan,
        // so checkpoint once here.
        val (codesAll, centsAll) = Round10n.pqCodebooksK(emb, kcLevels)
        val codesCk = codesAll.localCheckpoint()
        val qsub = Round10n.pqSub(emb.where(col("vec_id") < 10))
          .withColumnRenamed("vec_id", "qid")
        val (top5, sses) = kcLevelsFused(codesCk, centsAll, qsub, qvT, q)
        val hits = top5
          .join(truth, Seq("qid", "vid"), "left_semi")
          .groupBy("qid", "kc").agg(count(lit(1)).as("n_hit"))
        q.select("qid").crossJoin(broadcast(levels))
          .join(hits, Seq("qid", "kc"), "left")
          .join(broadcast(sses), Seq("kc"))
          .select(col("qid"), col("kc"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)) / lit(5.0)).as("recall_at_5"),
            col("sse"))
          .orderBy("qid", "kc")
      },
      s"""WITH qv AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS v
         |  FROM embeddings),
         |sub AS (
         |  SELECT vec_id, CAST(ss.s AS INTEGER) AS s,
         |         v[8 * ss.s + 1 : 8 * ss.s + 8] AS v
         |  FROM qv CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) ss),
         |qsub AS (SELECT vec_id AS qid, s, v FROM sub WHERE vec_id < 10),
         |q AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
         |truth AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.qid, a.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             list_aggregate(list_transform(list_zip(a.v, q.qv),
         |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'),
         |             a.vec_id) AS rnk
         |    FROM qv a CROSS JOIN q WHERE a.vec_id <> q.qid) z
         |  WHERE rnk <= 5),
         |${kcLevels.map(oracleKc).mkString(",\n")},
         |per AS (${kcLevels.map(kc =>
              s"SELECT CAST($kc AS BIGINT) AS kc, qid, vid FROM rr_$kc")
              .mkString("\n  UNION ALL ")}),
         |sses AS (${kcLevels.map(kc =>
              s"SELECT CAST($kc AS BIGINT) AS kc, sse FROM sse_$kc")
              .mkString("\n  UNION ALL ")}),
         |hits AS (
         |  SELECT p.kc, p.qid, COUNT(*) AS n_hit
         |  FROM per p JOIN truth t ON t.qid = p.qid AND t.vid = p.vid
         |  GROUP BY 1, 2),
         |lv AS (SELECT CAST(unnest([${kcLevels.mkString(", ")}]) AS BIGINT) AS kc)
         |SELECT q.qid, lv.kc,
         |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |       COALESCE(h.n_hit, 0) / 5.0 AS recall_at_5,
         |       s.sse
         |FROM q CROSS JOIN lv
         |LEFT JOIN hits h ON h.qid = q.qid AND h.kc = lv.kc
         |JOIN sses s ON s.kc = lv.kc
         |ORDER BY q.qid, lv.kc""".stripMargin
    )
  )
}
