package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Round-12 batch: the three ANN/ER compositions the round-11 verdict named
  * as declared-contract gaps — each one existed only as a ScaleCurve
  * measurement or an in-code comment until now.
  *
  *  - q228 IVF-PQ + exact re-rank: the config the measured curves crown
  *    (ivfpq128_rr50: recall@5 0.732 at 250k vectors where raw ADC reads
  *    0.044 — SCALE.md §11/§12). q219's ADC is the SHORTLIST generator
  *    (k' = 50 candidates from 16-byte codes); the exact integer-grid
  *    distance re-ranks only those 50 raw vectors per query. A user
  *    copying the declared contract now gets the production config, not
  *    the weaker ADC-only form.
  *  - q229 decorrelated multi-table LSH: q220 draws its L tables as
  *    consecutive slices of ONE integer hyperplane family, and the
  *    measured lift is sub-independent (family correlation); drawing each
  *    table from its own family keyed by a distinct public hash prime
  *    recovers the independence prediction (ScaleCurve lsh_multi4x8d:
  *    recall 0.212 → 0.254 at the same candidate budget, SCALE.md §12).
  *  - q230 deletion-neighborhood join: the production form for
  *    length-CHANGING edits that q223's segment blocking cannot see (a
  *    17-char typo has no aligned segments against an 18-char original).
  *    The SymSpell scheme — index every ≤1-deletion variant, candidates =
  *    variant collisions — is complete for lev ≤ 1 by construction:
  *    insertion matches x's deletion to y itself, deletion the reverse,
  *    substitution both sides' deletion at the edit position.
  */
object Round12 {
  import Tables._

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q228
    // IVF-PQ ADC shortlist (k' = 50) + exact integer-grid re-rank (top 5):
    // the recall-bearing production composition. Scale shape: everything
    // q219 argues (codes-only ADC scan, broadcast codebooks + LUTs,
    // primitive-key argmins) PLUS a re-rank that touches exactly Q·50 raw
    // vectors — two broadcast-scale joins and one qid-partitioned window,
    // regardless of corpus size. Recall order (re-rank ≥ ADC-only at
    // equal shortlist budget) is spec-locked at gate scale in Round12Spec
    // and measured at 250k in SCALE.md §11 (0.732 vs 0.044).
    "q228_ivfpq_rerank" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
        val qv = Round11.quantized(emb)
        val short = Round11.ivfPqTopK(emb, nprobe = 2, k = 50).select("qid", "vid")
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
         |${Round11.oracleAdcRank},
         |short AS (SELECT qid, vid FROM r WHERE rnk <= 50),
         |rr AS (
         |  SELECT s.qid, s.vid,
         |         CAST(list_aggregate(list_transform(list_zip(q.qv, a.v),
         |           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS d2
         |  FROM short s JOIN q ON q.qid = s.qid JOIN qv a ON a.vec_id = s.vid)
         |SELECT qid, vid, d2,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS INT) AS rnk
         |FROM rr QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
    ),

    // --------------------------------------------------------------- q229
    // Decorrelated multi-table LSH: q220's shape (4 tables × 3 bits,
    // union-of-bucket-mates candidates, exact cosine re-rank, n_tables
    // diagnostic) with each table's hyperplanes drawn from its OWN integer
    // family keyed by a distinct public hash prime — the measured
    // production knob (ScaleCurve lsh_multi4x8d, SCALE.md §12: shared
    // slices leave recall at 0.212, decorrelated families reach 0.254 at
    // the identical candidate budget, the 1−(1−p)^L independence
    // prediction). Same scale shape as q220: a 4× posexplode, one
    // (t, bucket) equi-join against the broadcast query side, a
    // (qid, vid) count rollup, one qid-partitioned top-k window —
    // candidate volume Q · L · N/2^bits, linear in N.
    "q229_lsh_decorrelated" -> QDef(
      (s, d) => {
        val L = 4
        val b = 3
        val prime = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("n2", DotProduct.norm2(col("e")))
        val tabs = emb.select(col("vec_id"), col("e"), col("n2"),
            posexplode(array((0 until L).map(t =>
              SignHash.bucket(col("e"), b, prime = prime(t))): _*)))
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
        val prime = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
        def bucketSql(t: Int): String = (0 until 3).map { j =>
          s"""(CASE WHEN list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]),
             |   list_transform(range(0, 64), k -> CAST(($j*64+k)*${prime(t)} % 97 - 48 AS DOUBLE))),
             |   z -> z[1]*z[2]), 'sum') > 0 THEN ${1L << j} ELSE 0 END)""".stripMargin
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

    // --------------------------------------------------------------- q230
    // Deletion-neighborhood (SymSpell) edit join over a corpus with
    // PLANTED insert/delete typos: customers with ck % 10 = 3 get a
    // value-visible single-character deletion twin (position ck % 12 + 4,
    // id offset +100000) — both engines derive the twins from the data,
    // so the oracle replays the plant and then brute-forces lev ≤ 1 as
    // the independent completeness check. The planted pairs are EXACTLY
    // what q223's aligned-segment blocking cannot form candidates for
    // (17-char typo vs 18-char original — no aligned segment pair
    // exists); Round12Spec locks that q230 recovers every planted pair.
    // Scale shape: a ≤(len+1)× variant explode + one variant equi-join +
    // distinct + codegen'd levenshtein verify — candidate volume is the
    // variant-collision count, never all-pairs; at 100 TB the join key is
    // the variant's 64-bit hash and the verify join rejoins raw strings
    // by id (the q46 signature discipline). The carve (< 200) is
    // SF-independent, like q83's.
    "q230_deletion_neighborhood" -> QDef(
      (s, d) => {
        val base = customer(s, d).where(col("c_custkey") < 200)
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val typos = base.where(col("id") % 10 === 3)
          .select((col("id") + 100000L).as("id"),
            expr("concat(substring(nm, 1, CAST(id % 12 + 3 AS INT)), " +
              "substring(nm, CAST(id % 12 + 5 AS INT)))").as("nm"))
        val all = base.unionAll(typos)
        val nbr = all.select(col("id"), col("nm"),
          explode(expr("""transform(sequence(0, length(nm)), p ->
            CASE WHEN p = 0 THEN nm
                 ELSE concat(substring(nm, 1, p - 1), substring(nm, p + 1)) END)"""))
            .as("v"))
        val cand = nbr.as("x").join(nbr.as("y"),
            col("x.v") === col("y.v") && col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("x.nm").as("nm_a"),
            col("y.id").as("id_b"), col("y.nm").as("nm_b"))
          .distinct()
        cand.withColumn("lev", levenshtein(col("nm_a"), col("nm_b")))
          .where(col("lev") <= 1)
          .select(col("id_a"), col("id_b"), col("lev").cast("long").as("lev"))
          .orderBy("id_a", "id_b")
      },
      """WITH base AS (SELECT c_custkey AS id, c_name AS nm FROM customer
        |              WHERE c_custkey < 200),
        |typos AS (
        |  SELECT id + 100000 AS id,
        |         substring(nm, 1, CAST(id % 12 + 3 AS INT))
        |           || substring(nm, CAST(id % 12 + 5 AS INT)) AS nm
        |  FROM base WHERE id % 10 = 3),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM typos)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev
        |FROM allr a JOIN allr b ON a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin
    )
  )
}
