package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 batch 14: product quantization — the third leg of the ANN
  * family's scale path (q41 brute / q52 LSH / q62 IVF → q205 codebook
  * training, q206 asymmetric-distance search). PQ is the standard
  * 100 TB embedding-store layout: 64-dim float vectors compress to 8
  * one-byte codes (one per 8-dim subspace), and search scans codes with
  * a per-query lookup table instead of raw vectors — 32× less IO.
  *
  * EVERYTHING here is exact integer arithmetic, so the DuckDB oracle
  * replays the WHOLE pipeline — codebook training included — rather than
  * settling for a rows-only check: vectors enter the 1e6-quantized long
  * grid (the q192 bridge), k-means runs 2 UNROLLED Lloyd iterations from
  * fixed seeds (vec_id < 16 subvectors), distances are int64 squared-L2
  * sums, argmin ties break on the centroid id through a single encoded
  * key (dist·65536 + j — dist ≤ 1.1e13 < 2^47 keeps the key in int64),
  * and centroid updates are FLOOR(sum/n) through an exact-double
  * division (sums < 2^53). No floats anywhere a codebook decision is
  * made ⇒ bit-identical codebooks, codes, and ADC distances in both
  * engines.
  */
object Round10n {
  import Tables._

  /** (vec_id, s ∈ 0..7, v: 8 quantized longs) — the subspace view. */
  private[graft] def pqSub(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
          .as("q"))
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"), col("q"))
      .select(col("vec_id"), col("s"), expr("slice(q, 8 * s + 1, 8)").as("v"))

  /** Spread a byte-small, CPU-heavy probe table across real tasks before a
    * broadcast-join expansion (the q97/q40/q83 lesson, r16 edition): the
    * embeddings parquet is one split, so every training assign's ×kc
    * sqDist expansion + argmin partial — 43M rows for q254's Σkc = 336 —
    * ran INSIDE the single scan task (measured: the 3 assign jobs were
    * 0.8–1.2 s each with 31 idle cores; job trace r16). An explicit
    * numbered repartition is never coalesced by AQE; the width is the
    * session's effective shuffle-partition count (cpus-derived by
    * GraftSession), not a hard-coded local constant. GATED on expansion width kc > 64:
    * at kc = 16 (q205/q206/pqEncode) the ×16 expansion is ~2M rows and
    * the 3–4 repartition round-trips COST more than the parallelism buys
    * (measured back-to-back: q205 1.61 → 3.09 s, q206 1.97 → 2.50 with
    * an unconditional spread; q254's Σkc = 336 chain 3.6 → 3.1 s). */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Nearest-centroid codes of every subvector row (`by` = vec_id, s and
    * any level key) against the `on`-keyed codebook (j, c): the carried-dims
    * argmin on the 65536-wide key → `by` ++ (code, dist, v1..v8). */
  private def assign(sub: DataFrame, cent: DataFrame, on: Seq[String],
      by: Seq[String]): DataFrame =
    Lloyd.assignCarried(sub, cent, on, by, 65536, 8)

  /** 2 Lloyd iterations from the seeds `c0` + the final code assignment:
    * (codes(`by`, code, dist), c2). Only c1/c2 are checkpointed: each is
    * referenced twice (the next assign + the next update's fallback join),
    * so an un-checkpointed codebook would re-execute its whole training
    * lineage per reference — 2^depth blowup. `sub` and the final codes are
    * map-side re-derivable (parquet scan + explode) and single-consumer
    * respectively: an eager checkpoint job there is pure barrier latency
    * (measured round 10: dropping both + the codegen'd sqDist cut
    * q205/q206 ~3.5 → ~2.9 s warm on the same contended window; the
    * residual is the 2 training checkpoints + ~6 shuffle barriers,
    * constant in corpus size). */
  private def train(sub: DataFrame, c0: DataFrame, on: Seq[String],
      by: Seq[String]): (DataFrame, DataFrame) = {
    def step(c: DataFrame) =
      Lloyd.update(assign(sub, c, on, by), c, on, Lloyd.carried(8)).localCheckpoint()
    val c2 = step(step(c0))
    (assign(sub, c2, on, by).select((by ++ Seq("code", "dist")).map(col): _*), c2)
  }

  /** The trained codebook after 2 Lloyd iterations + the final code
    * assignment: (codes(vec_id, s, code, dist), centroids(s, j, c)).
    * The centroids are localCheckpointed — the codebook feeds training
    * output, ADC LUTs, and the ScaleCurve harness. */
  private[graft] def pqCodebook(emb: DataFrame): (DataFrame, DataFrame) =
    pqCodebookK(emb, 16)

  /** pqCodebook generalized to a CAPACITY parameter kc (centroids per
    * subspace) — the q254 operating-curve knob. Seeds = the first kc
    * vectors' subvectors; the dist·65536+j key encoding holds for any
    * kc ≤ 65536 (dist ≤ 3.2e13, key < 2.1e18 < 2^63). Everything else is
    * the q205 contract verbatim, so kc = 16 IS q205's training. */
  private[graft] def pqCodebookK(emb: DataFrame, kc: Int): (DataFrame, DataFrame) = {
    val sub = if (kc > 64) spread(pqSub(emb)) else pqSub(emb)
    val c0 = sub.where(col("vec_id") < kc)
      .select(col("s"), col("vec_id").as("j"), col("v").as("c"))
    train(sub, c0, Seq("s"), Seq("vec_id", "s"))
  }

  /** ALL capacity levels trained in ONE ladder (the q254 shape): the
    * subspace view is replicated per level (kc column via a broadcast
    * crossJoin — row work is Σ levels, identical to per-level ladders),
    * but the 2 Lloyd iterations run as ONE job chain — 2 localCheckpoints
    * and one set of shuffle barriers instead of one PER LEVEL (3×6
    * barriers + 6 checkpoints → ~2-3 s of pure per-level job overhead at
    * bench scale, measured round 15: q254 ~10.8 → ~6 s). Each kc slice
    * is bit-identical to pqCodebookK(emb, kc) — the seeds, argmin keys,
    * and FLOOR means never mix levels (kc is in every join/group key) —
    * so the per-level DuckDB oracle replay is unchanged. Codebook sizes:
    * Σ 8·kc ≤ 8·(16+64+256) = 2688 rows — always broadcastable.
    * Returns (codes(kc, vec_id, s, code, dist), cents(kc, s, j, c));
    * codes are NOT checkpointed (the caller decides — q254 consumes them
    * per level twice and checkpoints once). */
  private[graft] def pqCodebooksK(emb: DataFrame, kcs: Seq[Int]): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val levels = kcs.map(_.toLong).toDF("kc")
    val subK = (if (kcs.sum > 64) spread(pqSub(emb)) else pqSub(emb))
      .crossJoin(broadcast(levels))
    val c0 = subK.where(col("vec_id") < col("kc"))
      .select(col("kc"), col("s"), col("vec_id").as("j"), col("v").as("c"))
    train(subK, c0, Seq("kc", "s"), Seq("kc", "vec_id", "s"))
  }

  /** Encode a corpus against an ALREADY-TRAINED codebook: ONE broadcast
    * assign pass (16 centroid distances per subvector). This is the
    * production posture — training runs once on a fixed-size sample
    * (codebook quality needs a distribution, not the corpus), so encode
    * is the only cost that scales with N. Measured in ScaleCurve's ann
    * regime as pq_strain_rr50. */
  private[graft] def pqEncode(emb: DataFrame, cent: DataFrame): DataFrame =
    assign(pqSub(emb), cent, Seq("s"), Seq("vec_id", "s")).select("vec_id", "s", "code", "dist")

  /** Codes packed to one 8-long array per `by` group — per vector, or per
    * (kc, vector) so one shuffle packs every capacity level (the
    * production layout: 8 bytes/vector at nbits=8) — ADC then needs NO
    * per-subspace shuffle. */
  private[graft] def packedCodes(codes: DataFrame, by: String*): DataFrame =
    codes.groupBy(by.head, by.tail: _*)
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x("code")).as("ca"))

  /** Per-query ADC lookup table as ONE (8·kc)-long array indexed by
    * s·kc + j — the whole-query LUT a scan reads per row. */
  private[graft] def lutArraysK(qsub: DataFrame, cent: DataFrame, kc: Int): DataFrame =
    qsub.join(broadcast(cent), Seq("s"))
      .select(col("qid"), (col("s") * kc + col("j")).as("idx"),
        Lloyd.sqDist(8).as("ld"))
      .groupBy("qid")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("ld")))),
        x => x("ld")).as("la"))

  /** LUT arrays for ALL capacity levels in one pass: `centK` carries
    * (kc, s, j, c), the output (kc, qid, la) — per kc slice byte-identical
    * to [[lutArraysK]] (idx = s·kc + j just widens to long; array_sort on
    * the (idx, ld) structs orders by idx exactly as before). */
  private[graft] def lutArraysAllK(qsub: DataFrame, centK: DataFrame): DataFrame =
    qsub.join(broadcast(centK), Seq("s"))
      .select(col("kc"), col("qid"),
        (col("s") * col("kc") + col("j")).as("idx"), Lloyd.sqDist(8).as("ld"))
      .groupBy("kc", "qid")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("ld")))),
        x => x("ld")).as("la"))

  /** ADC distances for every (query, vector) pair as a pure MAP-SIDE
    * lookup sum: packed codes × broadcast LUT arrays (the `.limit(maxQ)`
    * no-op makes the build structurally bounded for the NLJ gate), the
    * 8 lookups UNROLLED into one plain expression — a HOF fold here is
    * interpreted per row and dominated the 25M-row curve scan; the
    * unrolled element_at sum stays inside whole-stage codegen.
    * Returns (qid, vid, adc_dist). */
  private[graft] def adcDistancesK(codes: DataFrame, cent: DataFrame,
      qsub: DataFrame, maxQ: Int, kc: Int): DataFrame = {
    val lookupSum = (0 until 8)
      .map(s => s"element_at(la, CAST(${s * kc} + element_at(ca, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    packedCodes(codes, "vec_id")
      .crossJoin(broadcast(lutArraysK(qsub, cent, kc).limit(maxQ)))
      .select(col("qid"), col("vec_id").as("vid"),
        expr(lookupSum).as("adc_dist"))
      .where(col("vid") =!= col("qid"))
  }

  private[graft] def adcDistances(codes: DataFrame, cent: DataFrame,
      qsub: DataFrame, maxQ: Int): DataFrame =
    adcDistancesK(codes, cent, qsub, maxQ, 16)

  /** ADC distances for ALL capacity levels in ONE scan (the q254 r15-opt
    * shape): packed codes of every level equi-joined (broadcast hash, not
    * NLJ) to the per-(kc, qid) LUTs on kc; the 8-lookup sum is the same
    * unrolled codegen expression with the literal `s·kc` offset replaced
    * by `s · kc-column` — per kc slice the arithmetic is identical to
    * [[adcDistancesK]], so every (kc, qid, vid, adc_dist) row is
    * byte-equal to the per-level form's. Replaces 3 pack shuffles +
    * 3 LUT builds + 3 scans with 1 + 1 + 1. */
  private[graft] def adcDistancesAllK(codesK: DataFrame, centK: DataFrame,
      qsub: DataFrame): DataFrame = {
    val lookupSum = (0 until 8)
      .map(s => s"element_at(la, CAST($s * kc + element_at(ca, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    packedCodes(codesK, "kc", "vec_id")
      .join(broadcast(lutArraysAllK(qsub, centK)), Seq("kc"))
      .select(col("kc"), col("qid"), col("vec_id").as("vid"),
        expr(lookupSum).as("adc_dist"))
      .where(col("vid") =!= col("qid"))
  }

  /** The full training pipeline as DuckDB CTEs, shared by both oracles:
    * binds `sub` (subspace rows), `c2` (trained centroids), and `codes`
    * (final assignment with per-row quantization error). */
  private val oracleCodebook =
    """sub AS (
      |  SELECT vec_id, CAST(ss.s AS INTEGER) AS s,
      |         q[8 * ss.s + 1 : 8 * ss.s + 8] AS v
      |  FROM (SELECT vec_id,
      |               list_transform(CAST(embedding AS DOUBLE[]),
      |                 x -> CAST(FLOOR(x * 1e6) AS BIGINT)) AS q
      |        FROM embeddings) qv
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) ss),
      |c0 AS (SELECT s, vec_id AS j, v AS c FROM sub WHERE vec_id < 16),
      |a1 AS (
      |  SELECT vec_id, s, MIN(v) AS v, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 65536 + j) AS key
      |  FROM sub JOIN c0 USING (s) GROUP BY vec_id, s),
      |u1 AS (
      |  SELECT s, key % 65536 AS j, d,
      |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
      |  FROM (SELECT s, key, unnest(v) AS x,
      |               unnest(generate_series(1, 8)) AS d
      |        FROM a1) ex
      |  GROUP BY 1, 2, 3),
      |c1 AS (
      |  -- empty-cluster guard: on a LEFT JOIN miss, list() over the single
      |  -- unmatched row yields [NULL] (non-NULL!), so a bare coalesce would
      |  -- return [NULL] instead of the previous centroid — the Spark side's
      |  -- coalesce(cnew, c) falls back correctly, so guard explicitly.
      |  SELECT c0.s, c0.j,
      |         CASE WHEN bool_and(u1.cd IS NULL) THEN c0.c
      |              ELSE list(u1.cd ORDER BY u1.d) END AS c
      |  FROM c0 LEFT JOIN u1 ON c0.s = u1.s AND c0.j = u1.j
      |  GROUP BY c0.s, c0.j, c0.c),
      |a2 AS (
      |  SELECT vec_id, s, MIN(v) AS v, MIN(
      |    list_aggregate(list_transform(list_zip(v, c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 65536 + j) AS key
      |  FROM sub JOIN c1 USING (s) GROUP BY vec_id, s),
      |u2 AS (
      |  SELECT s, key % 65536 AS j, d,
      |         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
      |  FROM (SELECT s, key, unnest(v) AS x,
      |               unnest(generate_series(1, 8)) AS d
      |        FROM a2) ex
      |  GROUP BY 1, 2, 3),
      |c2 AS (
      |  SELECT c1.s, c1.j,
      |         CASE WHEN bool_and(u2.cd IS NULL) THEN c1.c
      |              ELSE list(u2.cd ORDER BY u2.d) END AS c
      |  FROM c1 LEFT JOIN u2 ON c1.s = u2.s AND c1.j = u2.j
      |  GROUP BY c1.s, c1.j, c1.c),
      |codes AS (
      |  SELECT vec_id, s, CAST(key % 65536 AS BIGINT) AS code,
      |         CAST(key // 65536 AS BIGINT) AS dist
      |  FROM (SELECT vec_id, s, MIN(
      |          list_aggregate(list_transform(list_zip(v, c),
      |            p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') * 65536 + j) AS key
      |        FROM sub JOIN c2 USING (s) GROUP BY vec_id, s) f)""".stripMargin

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q205
    // PQ codebook training audit: per (subspace, code) the assigned
    // vector count and the summed squared quantization error — the
    // training objective surface (code balance + SSE is what you watch
    // when choosing nbits/subspaces). Scale shape: the subspace view is
    // a map-side 8× explode; each Lloyd step is one broadcast join
    // (128-row codebook) + a map-side-combinable (vec_id, s) argmin +
    // a (s, j, d) rollup whose cardinality is 8·16·8 = 1024 regardless
    // of corpus size; 2 iterations unrolled — no driver loop.
    "q205_pq_train" -> QDef(
      (s, d) => {
        val (codes, _) = pqCodebook(embeddings(s, d))
        codes.groupBy("s", "code")
          .agg(count(lit(1)).as("n_vecs"), sum("dist").as("sse"))
          .orderBy("s", "code")
      },
      s"""WITH $oracleCodebook
         |SELECT s, code, COUNT(*) AS n_vecs,
         |       CAST(SUM(dist) AS BIGINT) AS sse
         |FROM codes GROUP BY 1, 2 ORDER BY s, code""".stripMargin
    ),

    // --------------------------------------------------------------- q206
    // PQ asymmetric-distance (ADC) top-k: the 10 query vectors rank the
    // corpus by Σ_s LUT[qid, s·16 + code(vid, s)] — search touches only
    // the PACKED CODES (one 8-long array per vector; 8 bytes at
    // production nbits), never raw vectors: the 100 TB ANN scan shape.
    // Approximate by design but fully deterministic, so the oracle
    // replays it exactly (recall vs brute force is measured in
    // ScaleCurve's ann regime, not here — with the re-rank refinement).
    // Scale shape: the LUT is ONE 128-long array per query (broadcast,
    // structurally bounded build); ADC is a pure map-side 8-lookup fold
    // per (query, vector) row — NO shuffle until the per-query top-5,
    // which is a qid-PARTITIONED window (never global). The first form —
    // an (s, code) equi-join + (qid, vid) rollup — shuffled 8 rows per
    // pair and cost 48 s at 250k vecs in the curve; this form is the
    // fix (measured in SCALE.md §11 ann).
    "q206_pq_adc" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val (codes, cent) = pqCodebook(emb)
        val qsub = pqSub(emb.where(col("vec_id") < 10))
          .withColumnRenamed("vec_id", "qid")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("adc_dist"), col("vid"))
        adcDistances(codes, cent, qsub, maxQ = 10)
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vid"), col("adc_dist"), col("rnk"))
          .orderBy("qid", "rnk")
      },
      s"""WITH $oracleCodebook,
         |qsub AS (SELECT vec_id AS qid, s, v FROM sub WHERE vec_id < 10),
         |pc AS (SELECT vec_id, list(code ORDER BY s) AS ca
         |       FROM codes GROUP BY vec_id),
         |lutA AS (
         |  SELECT qid, list(ld ORDER BY idx) AS la
         |  FROM (SELECT qid, s * 16 + j AS idx,
         |               list_aggregate(list_transform(list_zip(v, c),
         |                 p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS ld
         |        FROM qsub JOIN c2 USING (s)) x
         |  GROUP BY qid),
         |adc AS (
         |  SELECT l.qid, pc.vec_id AS vid,
         |         CAST(${(0 until 8).map(s =>
                      s"la[CAST(${s * 16} + ca[${s + 1}] + 1 AS INTEGER)]")
                      .mkString(" + ")} AS BIGINT) AS adc_dist
         |  FROM pc CROSS JOIN lutA l WHERE pc.vec_id <> l.qid),
         |r AS (SELECT qid, vid, adc_dist,
         |             CAST(row_number() OVER (PARTITION BY qid
         |               ORDER BY adc_dist, vid) AS INTEGER) AS rnk
         |      FROM adc)
         |SELECT qid, vid, adc_dist, rnk FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin
    )
  )
}
