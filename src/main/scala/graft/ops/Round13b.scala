package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Round-13 batch 2: the two clustering/serving TUNING audits still absent
  * from the inventory — both are the numbers a platform derives before
  * trusting (q247) or configuring (q248) its vector index.
  *
  *  - q247 cell-silhouette audit: the clustering-QUALITY metric for the
  *    IVF/semdedup cell family (q144 audits cardinality estimates, q161
  *    flags outliers, q243 measures graph recall — nothing measured
  *    whether the CELLS themselves separate the data). Classic silhouette
  *    s = (b − a) / max(a, b) over exact grid distances, computed for a
  *    deterministic carve (the audit-on-a-carve posture).
  *  - q248 nprobe operating curve: recall@5 AS A FUNCTION of nprobe
  *    (1/2/4/8) in ONE plan — the tuning table behind every IVF
  *    deployment's speed/recall knob. nprobe = nlist is provably exact,
  *    so the curve's top row doubles as its own ground truth.
  */
object Round13b {
  import Tables._

  /** q247's whole plan: the shared q219 coarse stage, a 21-vector carve,
    * [[silhStats]] in the `decimalAcc` accumulator domain, then the
    * [[silhouette]] finish. */
  private[graft] def cellSilhouette(s: org.apache.spark.sql.SparkSession,
      d: String, decimalAcc: Boolean = false): DataFrame = {
    val qv = Round11.quantized(embeddings(s, d))
    val (asg, _) = Lloyd.coarse(qv, 8)
    val wn = asg
      .select(col("vec_id"), col("list_id"),
        col("v").cast("array<double>").as("vd"))
      .localCheckpoint() // carve + the stats rollup
    val carve = wn.where(col("vec_id") % 97 === 3 && col("vec_id") < 2000)
      .select(col("vec_id").as("aid"), col("list_id").as("own_list"),
        col("vd").as("av"))
      .limit(21)
      .localCheckpoint() // exploded dot leg + the final spine
    silhouette(carve, silhStats(wn, carve, decimalAcc))
  }

  /** q247's sufficient-statistics distances: one (aid, own_list, list_id,
    * md) row per (carve vector, cell), md = the mean grid d² from the carve
    * vector `av` to the cell's members (own cell without itself; null for
    * a singleton own cell), over members `wn` (vec_id, list_id, vd) and a
    * carve (aid, own_list, av). `decimalAcc = false` is the declared int64
    * form (exact through ~1.4e5 members/cell — nj·a2 ≤ nj·64·(1e6)² must
    * stay < 2^63 — with a raise_error guard at that bound, round-15
    * ADVICE); `decimalAcc = true` is the documented past-the-bound remedy
    * with (Σv, Σ‖v‖², dot_s) in DECIMAL(38,0) and sd2 cast back to long
    * for the identical double division. Round15Spec locks the two forms
    * bit-equal at gate scale (they overlap everywhere below the bound), so
    * the remedy is proven, not named. */
  private[graft] def silhStats(wn: DataFrame, carve: DataFrame,
      decimalAcc: Boolean): DataFrame = {
    val acc: Column => Column =
      if (decimalAcc) c => c.cast("decimal(38,0)") else identity
    // one N-pass: per-(cell, dim) Σv and Σv², exact longs (or DECIMAL)
    val sLong = wn.select(col("list_id"), posexplode(col("vd")))
      .select(col("list_id"), col("pos"), col("col").cast("long").as("vk"))
      .groupBy("list_id", "pos")
      .agg(sum(acc(col("vk"))).as("sk"), sum(acc(col("vk") * col("vk"))).as("qk"))
      .localCheckpoint() // dot join + the per-cell rollup
    val cell = sLong.groupBy("list_id").agg(sum("qk").as("qj"))
      .join(wn.groupBy("list_id").agg(count(lit(1)).as("nj")), Seq("list_id"))
    // v·S_j per (carve, cell): explode each carve vector once, join on dim
    val av = carve.select(col("aid"), posexplode(col("av")))
      .select(col("aid"), col("pos"), col("col").cast("long").as("ak"))
      .localCheckpoint() // dot leg + the ‖v‖² rollup
    val a2 = av.groupBy("aid").agg(sum(acc(col("ak") * col("ak"))).as("a2"))
    val sd2Raw = col("nj") * col("a2") - lit(2L) * col("dot_s") + col("qj")
    val sd2 =
      if (decimalAcc) sd2Raw.cast("long")
      else when(col("nj") > lit(140000L), raise_error(lit(
          "q247: cell exceeds 140000 members — int64 sd2 would overflow; " +
            "use the DECIMAL accumulator leg (cellSilhouette(decimalAcc = " +
            "true), bit-equal below the bound per Round15Spec)")).cast("long"))
        .otherwise(sd2Raw)
    av.join(broadcast(sLong), Seq("pos"))
      .groupBy("aid", "list_id").agg(sum(acc(col("ak")) * col("sk")).as("dot_s"))
      .join(broadcast(cell), Seq("list_id"))
      .join(broadcast(a2), Seq("aid"))
      .join(broadcast(carve.select(col("aid"), col("own_list"))), Seq("aid"))
      .withColumn("sd2", sd2)
      .withColumn("md", when(col("list_id") === col("own_list"),
          when(col("nj") > 1,
            col("sd2").cast("double") / (col("nj") - 1).cast("double")))
        .otherwise(col("sd2").cast("double") / col("nj").cast("double")))
      .localCheckpoint() // own slice + other-cells min
  }

  /** The silhouette finish over any (aid, own_list, list_id, md) stats
    * table: a = the own cell's md, b = the least other cell's md,
    * s = (b − a) / max(a, b), 0 when either is missing. One row per carve
    * vector: (vec_id, own_list, a, b, silhouette), by vec_id. */
  private[graft] def silhouette(carve: DataFrame, stats: DataFrame): DataFrame = {
    val own = stats.where(col("list_id") === col("own_list") && col("md").isNotNull)
      .select(col("aid").as("vec_id"), col("md").as("a"))
    val oth = stats.where(col("list_id") =!= col("own_list"))
      .groupBy(col("aid").as("vec_id")).agg(min("md").as("b"))
    carve.select(col("aid").as("vec_id"), col("own_list"))
      .join(own, Seq("vec_id"), "left")
      .join(oth, Seq("vec_id"), "left")
      .withColumn("silhouette",
        when(col("a").isNull || col("b").isNull, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .select(col("vec_id"), col("own_list"), col("a"), col("b"),
        col("silhouette"))
      .orderBy("vec_id")
  }

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q247
    // Cell-silhouette audit over the shared q219 coarse stage: for each
    // carve vector, a = mean exact grid d² to its OWN cell's other
    // members, b = min over other cells of the mean d² to that cell's
    // members, s = (b−a)/max(a,b) (singleton own cell ⇒ s = 0 by the
    // standard convention). Built in the SUFFICIENT-STATISTICS form (the
    // round-13 verdict's named 100 TB shape, now the declared internals):
    // per cell j, one N-pass computes (n_j, S_j = Σv per dim, Q_j =
    // Σ‖v‖²), and Σ_m d²(v, m) over the whole cell is then EXACTLY
    // n_j·‖v‖² − 2·v·S_j + Q_j — an integer identity (self contributes
    // 0), so the stats form is bit-identical to the carve×N pairwise
    // pass the oracle replays (Round13bSpec's JVM replay locks it; own
    // cell divides by n_j − 1, other cells by n_j). Everything stays in
    // the long domain: v_k ≤ 1e6, S_jk ≤ n_j·1e6, the v·S_j terms ≤
    // 64·2e15 and n_j·‖v‖² ≤ n_j·6.4e13 — exact int64 through ~1.4e5
    // members/cell; past that the accumulators (and only they) go
    // DECIMAL, with the final sd2 still an exact integer both engines
    // convert long→double identically. Scale shape: the N-pass is a
    // map-side-combinable (list, dim) rollup (nlist·64 rows out), the
    // carve touches only the 512-row stats table — no carve×N distance
    // pass at all, the audit cost is O(N + carve·nlist·dim).
    "q247_cell_silhouette" -> QDef(
      (s, d) => cellSilhouette(s, d),
      s"""WITH ${Round11.oracleCoarse},
         |wn AS (SELECT vec_id, CAST(key % 8 AS BIGINT) AS list_id, v
         |       FROM asg),
         |carve AS (SELECT vec_id AS aid, list_id AS own_list, v AS av
         |          FROM wn WHERE vec_id % 97 = 3 AND vec_id < 2000),
         |stats AS (
         |  SELECT cv.aid, cv.own_list, m.list_id,
         |         CAST(CAST(SUM(list_aggregate(list_transform(
         |             list_zip(cv.av, m.v),
         |             z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum')) AS BIGINT)
         |           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS md
         |  FROM wn m CROSS JOIN carve cv
         |  WHERE m.vec_id <> cv.aid
         |  GROUP BY 1, 2, 3),
         |own AS (SELECT aid AS vec_id, md AS a FROM stats
         |        WHERE list_id = own_list),
         |oth AS (SELECT aid AS vec_id, MIN(md) AS b FROM stats
         |        WHERE list_id <> own_list GROUP BY 1)
         |SELECT cv.aid AS vec_id, cv.own_list, own.a, oth.b,
         |       CASE WHEN own.a IS NULL OR oth.b IS NULL THEN 0.0
         |            ELSE (oth.b - own.a) / GREATEST(own.a, oth.b) END
         |         AS silhouette
         |FROM carve cv LEFT JOIN own ON own.vec_id = cv.aid
         |              LEFT JOIN oth ON oth.vec_id = cv.aid
         |ORDER BY vec_id""".stripMargin
    ),

    // --------------------------------------------------------------- q248
    // nprobe operating curve: one candidate table (each query's exact d²
    // to every corpus vector, tagged with the probed list's rank), ranked
    // once per level (1/2/4/8) — candidates at level p are exactly the
    // rows with pr ≤ p, so the curve shares ONE scan and ONE distance
    // pass across all levels. nprobe = 8 = nlist probes every list ⇒ its
    // top-5 IS the exact answer, making the level-8 row the curve's own
    // internal ground truth (recall ≡ 1.0 — the anchor the spec locks)
    // and recall monotone non-decreasing in p (supersets under one
    // consistent (d2, vec_id) order). Scale shape: at 100 TB the
    // candidate pass reads only the probed lists per level (the q219
    // scan), but the CURVE is an offline tuning audit on a carve — one
    // deliberate Q×N pass, the q222/q243 posture; windows are
    // (qid, nprobe)-partitioned.
    "q248_nprobe_curve" -> QDef(
      (s, d) => {
        import s.implicits._
        val levels = Seq(1, 2, 4, 8).toDF("nprobe")
        val qv = Round11.quantized(embeddings(s, d))
        val (asg, c1) = Lloyd.coarse(qv, 8)
        val wn = asg
          .select(col("vec_id"), col("list_id"), col("v"))
          .localCheckpoint() // candidate side
        val q = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        val pr = q.crossJoin(broadcast(c1.select(col("j"), col("c")).limit(8)))
          .withColumn("cd", DotProduct.gridDist(col("qv"), col("c")))
          .withColumn("pr", row_number().over(
            Window.partitionBy("qid").orderBy(col("cd"), col("j"))))
          .select(col("qid"), col("j").as("list_id"), col("pr"))
        val cand = wn.join(broadcast(pr), Seq("list_id"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(q), Seq("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .select(col("qid"), col("vec_id"), col("pr"), col("d2"))
          .localCheckpoint() // ranked once per level + the truth slice
        val byLevel = cand
          .crossJoin(broadcast(levels))
          .where(col("pr") <= col("nprobe"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid", "nprobe").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("nprobe"), col("vec_id"))
          .localCheckpoint() // truth slice + per-level hits
        val truth = byLevel.where(col("nprobe") === 8)
          .select(col("qid"), col("vec_id"))
        val hits = byLevel
          .join(truth, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid", "nprobe").agg(count(lit(1)).as("n_hit"))
        q.select("qid")
          .crossJoin(broadcast(levels))
          .join(hits, Seq("qid", "nprobe"), "left")
          .select(col("qid"), col("nprobe"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall_at_5", col("n_hit") / lit(5.0))
          .orderBy("qid", "nprobe")
      },
      s"""WITH ${Round11.oracleCoarse},
         |wn AS (SELECT vec_id, CAST(key % 8 AS BIGINT) AS list_id, v
         |       FROM asg),
         |q AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
         |pr AS (
         |  SELECT qid, list_id, pr FROM (
         |    SELECT q.qid, c1.j AS list_id,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             list_aggregate(list_transform(list_zip(q.qv, c1.c),
         |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), c1.j) AS pr
         |    FROM q CROSS JOIN c1) z),
         |cand AS (
         |  SELECT q.qid, m.vec_id, pr.pr,
         |         CAST(list_aggregate(list_transform(list_zip(m.v, q.qv),
         |           z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum') AS BIGINT) AS d2
         |  FROM wn m
         |  JOIN pr ON pr.list_id = m.list_id
         |  JOIN q ON q.qid = pr.qid
         |  WHERE m.vec_id <> q.qid),
         |lv AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INT) AS nprobe),
         |byl AS (
         |  SELECT qid, nprobe, vec_id FROM (
         |    SELECT c.qid, lv.nprobe, c.vec_id,
         |           row_number() OVER (PARTITION BY c.qid, lv.nprobe
         |             ORDER BY c.d2, c.vec_id) AS rnk
         |    FROM cand c CROSS JOIN lv WHERE c.pr <= lv.nprobe) z
         |  WHERE rnk <= 5),
         |truth AS (SELECT qid, vec_id FROM byl WHERE nprobe = 8),
         |hits AS (
         |  SELECT b.qid, b.nprobe, COUNT(*) AS n_hit
         |  FROM byl b JOIN truth t ON t.qid = b.qid AND t.vec_id = b.vec_id
         |  GROUP BY 1, 2)
         |SELECT q.qid, lv.nprobe,
         |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |       COALESCE(h.n_hit, 0) / 5.0 AS recall_at_5
         |FROM q CROSS JOIN lv
         |LEFT JOIN hits h ON h.qid = q.qid AND h.nprobe = lv.nprobe
         |ORDER BY q.qid, lv.nprobe""".stripMargin
    ),

    // --------------------------------------------------------------- q249
    // Shortlist-WIDTH operating curve for the binary-Hamming path: exact
    // re-rank recall@5 as a function of the Hamming shortlist width k'
    // (10/25/50/100) in one plan — the OTHER serving knob next to q248's
    // nprobe (the round-12 finding: width is the 1-bit path's recall
    // lever — k' 50→200 bought recall 0.314→0.538 at 250k for free,
    // CLAUDE.md/SCALE.md §12 — this declares the curve that finding tunes).
    // One codes pass ranks the corpus per query to srnk ≤ 100 (the max
    // width — WindowGroupLimit pushes it map-side); each level re-ranks
    // the srnk ≤ w slice with the exact grid distance; ground truth is
    // the brute exact top-5 (the q222 side). Recall is monotone
    // non-decreasing in w (superset re-ranked under one consistent
    // order). Scale shape: the corpus scan reads 16 bytes/vector once;
    // re-rank touches ≤ Q·100 raw vectors; windows are (qid[, width])-
    // partitioned.
    "q249_width_curve" -> QDef(
      (s, d) => {
        import s.implicits._
        val widths = Seq(10, 25, 50, 100).toDF("width")
        val emb = embeddings(s, d)
        val codes = emb.select(col("vec_id"),
            SignHash.word(col("embedding"), 0).as("w0"),
            SignHash.word(col("embedding"), 32).as("w1"))
          .localCheckpoint() // corpus side + query carve
        val qc = codes.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("w0").as("qw0"), col("w1").as("qw1"))
          .limit(10)
        val qv = Round11.quantized(emb)
        val q = qv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv")).limit(10)
        val short = codes.crossJoin(broadcast(qc))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("ham",
            expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)").cast("long"))
          .withColumn("srnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ham"), col("vec_id"))))
          .where(col("srnk") <= 100)
          .join(qv.select(col("vec_id"), col("v")), Seq("vec_id"))
          .join(broadcast(q), Seq("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .select(col("qid"), col("vec_id"), col("srnk"), col("d2"))
          .localCheckpoint() // cut the corpus-rank lineage before the ×4 level fan-out
        val byWidth = short.crossJoin(broadcast(widths))
          .where(col("srnk") <= col("width"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid", "width").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("width"), col("vec_id"))
        val truth = qv.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("qv")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id"))
        val hits = byWidth.join(truth, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid", "width").agg(count(lit(1)).as("n_hit"))
        q.select("qid").crossJoin(broadcast(widths))
          .join(hits, Seq("qid", "width"), "left")
          .select(col("qid"), col("width"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall_at_5", col("n_hit") / lit(5.0))
          .orderBy("qid", "width")
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
           |qc AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM codes
           |       WHERE vec_id < 10),
           |q AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 10),
           |short AS (
           |  SELECT z.qid, z.vec_id, z.srnk,
           |         CAST(list_aggregate(list_transform(list_zip(a.v, q.qv),
           |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS d2
           |  FROM (
           |    SELECT qc.qid, c.vec_id,
           |           row_number() OVER (PARTITION BY qc.qid
           |             ORDER BY bit_count(xor(c.w0, qc.qw0))
           |                    + bit_count(xor(c.w1, qc.qw1)), c.vec_id) AS srnk
           |    FROM codes c CROSS JOIN qc WHERE c.vec_id <> qc.qid) z
           |  JOIN qv a ON a.vec_id = z.vec_id
           |  JOIN q ON q.qid = z.qid
           |  WHERE z.srnk <= 100),
           |wl AS (SELECT CAST(unnest([10, 25, 50, 100]) AS INT) AS width),
           |byw AS (
           |  SELECT qid, width, vec_id FROM (
           |    SELECT s.qid, wl.width, s.vec_id,
           |           row_number() OVER (PARTITION BY s.qid, wl.width
           |             ORDER BY s.d2, s.vec_id) AS rnk
           |    FROM short s CROSS JOIN wl WHERE s.srnk <= wl.width) z
           |  WHERE rnk <= 5),
           |truth AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT q.qid, a.vec_id,
           |           row_number() OVER (PARTITION BY q.qid ORDER BY
           |             list_aggregate(list_transform(list_zip(a.v, q.qv),
           |               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'),
           |             a.vec_id) AS rnk
           |    FROM qv a CROSS JOIN q WHERE a.vec_id <> q.qid) z
           |  WHERE rnk <= 5),
           |hits AS (
           |  SELECT b.qid, b.width, COUNT(*) AS n_hit
           |  FROM byw b JOIN truth t ON t.qid = b.qid AND t.vec_id = b.vec_id
           |  GROUP BY 1, 2)
           |SELECT q.qid, wl.width,
           |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |       COALESCE(h.n_hit, 0) / 5.0 AS recall_at_5
           |FROM q CROSS JOIN wl
           |LEFT JOIN hits h ON h.qid = q.qid AND h.width = wl.width
           |ORDER BY q.qid, wl.width""".stripMargin
      }
    ),

    // --------------------------------------------------------------- q250
    // Dedup LADDER audit: the three text-dedup granularities this engine
    // ships — exact document (q39's rule), duplicated span (q235), CDC
    // chunk (q236) — compared in ONE result, the audit a platform runs to
    // decide which rungs of the stack pay for themselves on ITS corpus.
    // Per family: n_units (dup groups / spans / dup chunk texts), n_hits
    // (docs in dup groups / docs carrying a span / total chunk
    // occurrences), toks (exact + chunk: RECLAIMABLE tokens, the n−1
    // redundant copies; span: FLAGGED duplicated-span tokens — spans mark
    // both copies, the ExactSubstr framing). Scale shape: three
    // independent linear pipelines (each already measured near-linear —
    // SCALE.md §13) unioned into a 3-row result; nothing is joined
    // across families. The declared spans leg runs the h64 gram key
    // while the oracle replays the STRING key — the q235 collision-
    // freedom cross-check, inherited.
    "q250_dedup_ladder" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
        val sized = docs.select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("ntoks"))
        val exact = sized.groupBy("text")
          .agg(count(lit(1)).as("n"), min("ntoks").as("ntoks"))
          .where(col("n") >= 2)
          .agg(count(lit(1)).as("n_units"),
            coalesce(sum(col("n")), lit(0L)).as("n_hits"),
            coalesce(sum((col("n") - 1) * col("ntoks")), lit(0L)).as("toks"))
          .select(lit("1_exact_doc").as("family"), col("n_units"),
            col("n_hits"), col("toks"))
        val spans = Round12c.dupSpans(docs, hashKey = true)
          .agg(count(lit(1)).as("n_units"),
            countDistinct(col("doc_id")).as("n_hits"),
            coalesce(sum(col("span_toks")), lit(0L)).as("toks"))
          .select(lit("2_dup_span").as("family"), col("n_units"),
            col("n_hits"), col("toks"))
        val chunks = Round12c.cdcDupChunks(docs)
          .agg(count(lit(1)).as("n_units"),
            coalesce(sum(col("n_occ")), lit(0L)).as("n_hits"),
            coalesce(sum(col("saved_toks")), lit(0L)).as("toks"))
          .select(lit("3_cdc_chunk").as("family"), col("n_units"),
            col("n_hits"), col("toks"))
        exact.unionAll(spans).unionAll(chunks).orderBy("family")
      },
      """WITH sized AS (
        |  SELECT doc_id, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntoks
        |  FROM documents),
        |exact AS (
        |  SELECT '1_exact_doc' AS family,
        |         CAST(COUNT(*) AS BIGINT) AS n_units,
        |         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_hits,
        |         CAST(COALESCE(SUM((n - 1) * ntoks), 0) AS BIGINT) AS toks
        |  FROM (SELECT text, COUNT(*) AS n, MIN(ntoks) AS ntoks
        |        FROM sized GROUP BY text HAVING COUNT(*) >= 2) g),
        |-- q235's span pipeline, STRING gram key (the declared leg runs
        |-- h64 — the inherited collision-freedom cross-check)
        |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, i AS p, array_to_string(tk[i:i+7], ' ') AS gram
        |      FROM (SELECT doc_id, tk,
        |                   unnest(generate_series(1, len(tk) - 7)) AS i
        |            FROM toks WHERE len(tk) >= 8) s),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |dp AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, p,
        |         SUM(CASE WHEN prev IS NULL OR p > prev + 8 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM (SELECT doc_id, p,
        |               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        |        FROM dp) z),
        |sp AS (SELECT doc_id, MAX(p) + 7 - MIN(p) + 1 AS span_toks
        |       FROM isl GROUP BY doc_id, island),
        |spans AS (
        |  SELECT '2_dup_span' AS family,
        |         CAST(COUNT(*) AS BIGINT) AS n_units,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_hits,
        |         CAST(COALESCE(SUM(span_toks), 0) AS BIGINT) AS toks
        |  FROM sp),
        |-- q236's CDC chunk pipeline
        |ctoks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text, ' ')))) AS p
        |  FROM documents),
        |cc AS (SELECT doc_id, source, p, tok,
        |         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS code
        |       FROM ctoks),
        |ch AS (SELECT *, code + 3 * lag(code, 1) OVER w
        |         + 9 * lag(code, 2) OVER w + 27 * lag(code, 3) OVER w AS rh
        |       FROM cc WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |cb AS (SELECT *, CASE WHEN p >= 4 AND rh % 16 = 0 THEN 1 ELSE 0 END AS brk
        |       FROM ch),
        |cid AS (SELECT *, COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |        FROM cb),
        |chk AS (SELECT doc_id, source, chunk_id,
        |          string_agg(tok, ' ' ORDER BY p) AS ctext, COUNT(*) AS ctoks
        |        FROM cid GROUP BY 1, 2, 3),
        |cdup AS (SELECT ctext, COUNT(*) AS n_occ, MAX(ctoks) AS ctoks
        |         FROM chk GROUP BY ctext HAVING COUNT(*) >= 2),
        |chunks AS (
        |  SELECT '3_cdc_chunk' AS family,
        |         CAST(COUNT(*) AS BIGINT) AS n_units,
        |         CAST(COALESCE(SUM(n_occ), 0) AS BIGINT) AS n_hits,
        |         CAST(COALESCE(SUM((n_occ - 1) * ctoks), 0) AS BIGINT) AS toks
        |  FROM cdup)
        |SELECT * FROM exact UNION ALL SELECT * FROM spans
        |UNION ALL SELECT * FROM chunks ORDER BY family""".stripMargin
    )
  )
}
