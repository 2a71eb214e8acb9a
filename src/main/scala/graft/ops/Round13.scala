package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotProduct

/** Round-13 batch: the four compositions the round-12 verdict named as the
  * remaining capability gaps vs the 100 TB north star.
  *
  *  - q243 kNN-graph recall audit: q234 was the only vector primitive
  *    without an oracle-gated quality audit (q222 audits the query path,
  *    q233 truncation, q240 rank placement). Per carve vector, the overlap
  *    of the graph's 3-NN vs brute 3-NN over the FULL corpus — for BOTH
  *    the single-probe graph (q234's) and the 2-probe variant (q244), so
  *    the IVF-boundary loss AND its production fix are one hash-compared
  *    result.
  *  - q244 multi-probe kNN-graph: q226's probe-set idea applied to the
  *    all-vector join — every vector draws neighbor candidates from its 2
  *    nearest cells (members stay single-assigned; only the probe side
  *    fans out), recovering true neighbors that sit across the cell
  *    boundary q234's own comment names as its approximation.
  *  - q245 quality-weighted keeper: every dedup family here kept min-id;
  *    production curation (RefinedWeb-style) keeps the best-QUALITY
  *    cluster member. q50's quality score × q66's CC clusters, keeper =
  *    argmax(quality, tie min doc_id) via the two-pass argmax discipline
  *    (min/max over a struct would plan as SortAggregate — SCALE.md §12).
  *  - q246 composed serving read path: filter (q227) × multi-probe coarse
  *    routing (q219's nprobe=2) × PQ-ADC shortlist × exact re-rank (q228)
  *    as ONE declared plan — the full production vector-store read, not
  *    four separate demonstrations.
  */
object Round13 {
  import Tables._

  /** Multi-probe kNN-graph CANDIDATE set over the shared q219 coarse stage
    * (8 seeds, one Lloyd iteration, integer grid): every vector draws
    * candidates from the members of its `nprobe` nearest cells. Members
    * stay single-assigned — only the probe side fans out ×nprobe — so the
    * probe=1 restriction is EXACTLY q234's single-probe candidate set (the
    * rank-1 probe is the argmin assignment, same integer distances, same
    * tie-break on cell id). Returns (vec_id, nbr_id, list_id, probe, d2).
    *
    * Scale shape: the probe ranking is an N×nlist explode carrying ONLY
    * primitives (vec_id, distance, cell id) through a vec_id-partitioned
    * window — the vector payload rejoins by id afterwards (the
    * SortAggregate/window-payload avoidance, SCALE.md §12); candidates
    * come from an EQUI-join on list_id bounded by cell population ×nprobe
    * (nlist ∝ N keeps that constant — the q231 posture, measured
    * near-linear in the semdedup ScaleCurve regime). */
  private[graft] def knnCand(emb: DataFrame, nprobe: Int): DataFrame = {
    val qv = Round11.quantized(emb)
    val (asg, c1) = Lloyd.coarse(qv, 8)
    val wn = asg
      .select(col("vec_id"), col("list_id"),
        col("v").cast("array<double>").as("vd"))
      .localCheckpoint() // member side + the probe-side payload rejoin
    val probes = qv.crossJoin(broadcast(c1.select(col("j"), col("c")).limit(8)))
      .select(col("vec_id"), col("j"), DotProduct.gridDist(col("v"), col("c")).as("cd"))
      .withColumn("probe", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cd"), col("j"))))
      .where(col("probe") <= nprobe)
      .select(col("vec_id"), col("j").as("list_id"),
        col("probe").cast("int").as("probe"))
    val b = wn.select(col("vec_id").as("nbr_id"), col("list_id"),
      col("vd").as("wd"))
    probes.join(wn.select(col("vec_id"), col("vd")), Seq("vec_id"))
      .join(b, Seq("list_id"))
      .where(col("vec_id") =!= col("nbr_id"))
      .withColumn("d2", (DotProduct.norm2(col("vd")) + DotProduct.norm2(col("wd"))
        - lit(2.0) * DotProduct.dot(col("vd"), col("wd"))).cast("long"))
      .select(col("vec_id"), col("nbr_id"), col("list_id"), col("probe"),
        col("d2"))
  }

  /** q50's quality expression appended to any (..., text) frame — shared
    * by q245 and the s38 streaming keeper twin. Integer quotients + one
    * IEEE affine combine: bit-identical across engines (the q50 proof). */
  private[graft] def withQuality(docs: DataFrame): DataFrame = {
    val stops = array(Seq("a", "the", "row", "value", "table", "and",
      "of").map(lit): _*)
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stops, t))).cast("long"))
      .withColumn("quality",
        lit(0.5) * (col("n_distinct") / col("n_toks"))
          + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_toks"))
          + lit(0.2) * (least(col("n_toks"), lit(100L)) / 100.0))
      .drop("toks", "n_toks", "n_distinct", "n_stop")
  }

  /** The probes + candidate CTEs shared by the q243/q244 oracles; binds
    * `wn` (assignments), `probes` (each vector's 2 nearest cells), and
    * `cand` (per-vector neighbor candidates with probe + exact d2). */
  private val oracleKnnCand =
    """wn AS (SELECT vec_id, CAST(key % 8 AS BIGINT) AS list_id, v
      |       FROM asg),
      |probes AS (
      |  SELECT vec_id, list_id, probe FROM (
      |    SELECT qv.vec_id, c1.j AS list_id,
      |           CAST(row_number() OVER (PARTITION BY qv.vec_id ORDER BY
      |             list_aggregate(list_transform(list_zip(qv.v, c1.c),
      |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), c1.j)
      |             AS INT) AS probe
      |    FROM qv CROSS JOIN c1) z
      |  WHERE probe <= 2),
      |cand AS (
      |  SELECT p.vec_id, b.vec_id AS nbr_id, b.list_id, p.probe,
      |         CAST(list_aggregate(list_transform(list_zip(a.v, b.v),
      |           z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum') AS BIGINT) AS d2
      |  FROM probes p
      |  JOIN wn a ON a.vec_id = p.vec_id
      |  JOIN wn b ON b.list_id = p.list_id AND b.vec_id <> p.vec_id)""".stripMargin

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q243
    // kNN-graph recall audit: per carve vector, |graph 3-NN ∩ brute 3-NN|
    // for the single-probe graph (q234's exact candidate rule) AND the
    // 2-probe variant (q244's), against brute ground truth over the FULL
    // corpus — the q222 construction applied to the graph path, so the
    // IVF-boundary loss is a hash-compared number, not a comment. The
    // carve (vec_id ≡ 3 mod 97, < 2000 → ≤21 vectors at any SF) keeps the
    // deliberate brute pass at carve×N — the audit-on-a-carve posture of
    // q83/q222; at 100 TB the carve is the offline eval sample. Both
    // graph variants rank the SAME candidate table (one per-cell join),
    // restricted to the carve before ranking (per-vector windows are
    // restriction-invariant).
    "q243_knn_graph_recall" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val qv = Round11.quantized(emb)
        val carve = qv.where(col("vec_id") % 97 === 3 && col("vec_id") < 2000)
          .select(col("vec_id").as("aid"), col("v").as("av")).limit(21)
        val brute = qv.crossJoin(broadcast(carve))
          .where(col("vec_id") =!= col("aid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("av")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 3)
          .select(col("aid"), col("vec_id").as("nbr_id"))
          .localCheckpoint() // joined against both graph variants
        val cand = knnCand(emb, 2)
          .join(broadcast(carve.select(col("aid").as("vec_id"))), Seq("vec_id"))
          .localCheckpoint() // ranked twice (probe=1 slice + full)
        def top3(c: DataFrame): DataFrame = c
          .withColumn("r", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("nbr_id"))))
          .where(col("r") <= 3)
          .select(col("vec_id").as("aid"), col("nbr_id"))
        def hits(g: DataFrame): DataFrame =
          brute.join(g, Seq("aid", "nbr_id"), "left_semi")
            .groupBy("aid").agg(count(lit(1)).as("h"))
        val h1 = hits(top3(cand.where(col("probe") === 1)))
        val h2 = hits(top3(cand))
        carve.select(col("aid").as("vec_id"))
          .join(h1.select(col("aid").as("vec_id"), col("h").as("n_hit_1p")),
            Seq("vec_id"), "left")
          .join(h2.select(col("aid").as("vec_id"), col("h").as("n_hit_2p")),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("n_hit_1p"), lit(0L)).as("n_hit_1p"),
            coalesce(col("n_hit_2p"), lit(0L)).as("n_hit_2p"))
          .withColumn("recall_1p", col("n_hit_1p") / lit(3.0))
          .withColumn("recall_2p", col("n_hit_2p") / lit(3.0))
          .orderBy("vec_id")
      },
      s"""WITH ${Round11.oracleCoarse},
         |$oracleKnnCand,
         |carve AS (SELECT vec_id AS aid, v AS av FROM qv
         |          WHERE vec_id % 97 = 3 AND vec_id < 2000),
         |cc AS (SELECT c.* FROM cand c JOIN carve cv ON cv.aid = c.vec_id),
         |g1 AS (SELECT vec_id AS aid, nbr_id FROM (
         |         SELECT vec_id, nbr_id, row_number() OVER (
         |           PARTITION BY vec_id ORDER BY d2, nbr_id) AS r
         |         FROM cc WHERE probe = 1) z WHERE r <= 3),
         |g2 AS (SELECT vec_id AS aid, nbr_id FROM (
         |         SELECT vec_id, nbr_id, row_number() OVER (
         |           PARTITION BY vec_id ORDER BY d2, nbr_id) AS r
         |         FROM cc) z WHERE r <= 3),
         |brute AS (SELECT aid, nbr_id FROM (
         |  SELECT cv.aid, a.vec_id AS nbr_id,
         |         row_number() OVER (PARTITION BY cv.aid ORDER BY
         |           list_aggregate(list_transform(list_zip(a.v, cv.av),
         |             z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum'),
         |           a.vec_id) AS r
         |  FROM qv a CROSS JOIN carve cv WHERE a.vec_id <> cv.aid) z
         |  WHERE r <= 3),
         |h1 AS (SELECT b.aid, COUNT(*) AS h FROM brute b
         |       JOIN g1 ON g1.aid = b.aid AND g1.nbr_id = b.nbr_id
         |       GROUP BY 1),
         |h2 AS (SELECT b.aid, COUNT(*) AS h FROM brute b
         |       JOIN g2 ON g2.aid = b.aid AND g2.nbr_id = b.nbr_id
         |       GROUP BY 1)
         |SELECT cv.aid AS vec_id,
         |       CAST(COALESCE(h1.h, 0) AS BIGINT) AS n_hit_1p,
         |       CAST(COALESCE(h2.h, 0) AS BIGINT) AS n_hit_2p,
         |       COALESCE(h1.h, 0) / 3.0 AS recall_1p,
         |       COALESCE(h2.h, 0) / 3.0 AS recall_2p
         |FROM carve cv LEFT JOIN h1 ON h1.aid = cv.aid
         |              LEFT JOIN h2 ON h2.aid = cv.aid
         |ORDER BY vec_id""".stripMargin
    ),

    // --------------------------------------------------------------- q244
    // Multi-probe kNN-graph: every vector's 3 nearest neighbors among the
    // members of its 2 nearest IVF cells — the production escalation
    // q234's single-probe comment names, now declared. The probe column
    // reports which probe surfaced each kept neighbor (probe=2 rows are
    // exactly the cross-boundary recoveries). Scale shape: knnCand's —
    // one primitive-only N×8 probe window + a per-cell equi-join ×2, one
    // vec_id-partitioned top-k window; candidate volume 2× q234's, still
    // linear in N under nlist ∝ N.
    "q244_knn_graph_multiprobe" -> QDef(
      (s, d) => knnCand(embeddings(s, d), 2)
        .withColumn("nbr_rank", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d2"), col("nbr_id"))))
        .where(col("nbr_rank") <= 3)
        .select(col("vec_id"), col("nbr_rank").cast("int").as("nbr_rank"),
          col("nbr_id"), col("list_id"), col("probe"), col("d2"))
        .orderBy("vec_id", "nbr_rank"),
      s"""WITH ${Round11.oracleCoarse},
         |$oracleKnnCand
         |SELECT vec_id,
         |       CAST(row_number() OVER (PARTITION BY vec_id
         |         ORDER BY d2, nbr_id) AS INT) AS nbr_rank,
         |       nbr_id, list_id, probe, d2
         |FROM cand QUALIFY nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin
    ),

    // --------------------------------------------------------------- q245
    // Quality-weighted dedup keeper: q66's CC clusters × q50's quality
    // score, keeper = argmax(quality, tie min doc_id) — the RefinedWeb
    // rule (keep the best member, not the smallest id). min_id is carried
    // so the divergence from the min-id rule is value-visible in the
    // result. Determinism: quality is q50's portable expression (integer
    // quotients + one IEEE affine combine — bit-identical both engines),
    // and the argmax is the documented TWO-PASS form: max(quality) per
    // cluster (primitive double — HashAggregate), equality join on the
    // bit-identical double, min(doc_id) tie-break (min/max over a struct
    // would plan as SortAggregate and sort the full rows — SCALE.md §12).
    // Scale shape: clusters ride Dedup.dupClusters' bounded-iteration
    // ladder (q66's 3-doc chains); score + argmax are two
    // map-side-combinable rollups and one equi-join.
    "q245_quality_keeper" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
        val w = Window.partitionBy("lang", "source").orderBy("doc_id")
        val chain = docs.select(col("doc_id"), col("lang"), col("source"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .withColumn("prev", lag("doc_id", 1).over(w))
          .where(col("prev").isNotNull)
          .select(col("prev").as("doc_a"), col("doc_id").as("doc_b"))
        val clusters = Dedup.dupClusters(chain)
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        val quality = withQuality(docs).select("doc_id", "quality")
        val memb = clusters.join(quality, "doc_id")
          .localCheckpoint() // both argmax passes + the stats rollup
        val mx = memb.groupBy("cluster_id")
          .agg(max("quality").as("keeper_quality"),
            count(lit(1)).as("n_members"), min("doc_id").as("min_id"))
        val kp = memb.join(mx.select(col("cluster_id"), col("keeper_quality")),
            Seq("cluster_id"))
          .where(col("quality") === col("keeper_quality"))
          .groupBy("cluster_id").agg(min("doc_id").as("keeper_id"))
        mx.join(kp, Seq("cluster_id"))
          .select(col("cluster_id"), col("n_members"), col("keeper_id"),
            col("keeper_quality"), col("min_id"))
          .orderBy("cluster_id")
      },
      """WITH r AS (
        |  SELECT doc_id, lang, source, text,
        |         row_number() OVER (PARTITION BY lang, source
        |           ORDER BY doc_id) AS rn
        |  FROM documents),
        |k AS (SELECT * FROM r WHERE rn <= 3),
        |g AS (SELECT doc_id, text,
        |        COUNT(*)    OVER (PARTITION BY lang, source) AS n,
        |        MIN(doc_id) OVER (PARTITION BY lang, source) AS cluster_id
        |      FROM k),
        |memb AS (
        |  SELECT doc_id, cluster_id,
        |         0.5 * (n_distinct / n_toks)
        |           + 0.3 * (1.0 - (n_stop / n_toks))
        |           + 0.2 * (least(n_toks, 100) / 100.0) AS quality
        |  FROM (
        |    SELECT doc_id, cluster_id,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |      CAST(len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['a','the','row','value','table','and','of'], t)))
        |        AS BIGINT) AS n_stop
        |    FROM g WHERE n >= 2) t),
        |mx AS (SELECT cluster_id, MAX(quality) AS keeper_quality,
        |              COUNT(*) AS n_members, MIN(doc_id) AS min_id
        |       FROM memb GROUP BY 1),
        |kp AS (SELECT m.cluster_id, MIN(m.doc_id) AS keeper_id
        |       FROM memb m JOIN mx ON m.cluster_id = mx.cluster_id
        |                          AND m.quality = mx.keeper_quality
        |       GROUP BY 1)
        |SELECT mx.cluster_id, mx.n_members, kp.keeper_id,
        |       mx.keeper_quality, mx.min_id
        |FROM mx JOIN kp ON kp.cluster_id = mx.cluster_id
        |ORDER BY mx.cluster_id""".stripMargin
    ),

    // --------------------------------------------------------------- q246
    // The composed serving read path, ONE plan: metadata pre-filter
    // (q227's predicate, applied to the packed-codes table BEFORE the ADC
    // scan) × multi-probe coarse routing (nprobe=2 — q219's probe set) ×
    // PQ-ADC shortlist (k' = 50 from 16-byte codes) × exact integer-grid
    // re-rank (top 5 touching exactly Q·50 raw vectors). This is what a
    // production vector store executes per query; the components exist
    // separately as q227/q226/q219/q228 — a user of the composition gets
    // it as one declared contract. Pre- vs post-filter: the predicate
    // prunes list members before any distance math, so the shortlist is
    // always filter-consistent and k never under-fills (Round13Spec locks
    // composed recall ≥ the post-filtered variant at equal budget).
    "q246_serving_composed" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val qv = Round11.quantized(emb)
        val short = Round11.ivfPqTopK(emb, nprobe = 2, k = 50,
          indexFilter = col("vec_id") % 3 === 0).select("qid", "vid")
        val q = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        short.join(qv.select(col("vec_id").as("vid"), col("v")), "vid")
          .join(broadcast(q), "qid")
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("vid"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vid"), col("d2"),
            col("rnk").cast("int").as("rnk"))
          .orderBy("qid", "rnk")
      },
      s"""WITH ${Round11.oracleIvfPq},
         |${Round11.oracleAdcRankWhere("pc.vec_id % 3 = 0")},
         |short AS (SELECT qid, vid FROM r WHERE rnk <= 50),
         |rr AS (
         |  SELECT s.qid, s.vid,
         |         CAST(list_aggregate(list_transform(list_zip(q.qv, a.v),
         |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS d2
         |  FROM short s JOIN q ON q.qid = s.qid JOIN qv a ON a.vec_id = s.vid)
         |SELECT qid, vid, d2,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS INT) AS rnk
         |FROM rr QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
    )
  )
}
