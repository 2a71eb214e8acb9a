package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.plans.DotProduct

/** LLM-training-data-pipeline operators (SURVEY.md §2.2 q39–q45 plus the
  * extended dedup/similarity/text-analysis family q46+): exact + near dedup,
  * similarity search, text statistics.
  *
  * Float determinism (verified empirically): Spark's `aggregate` HOF and
  * DuckDB's list_aggregate(…,'sum') are both sequential left folds, so
  * per-row array math is bit-identical with no decimal bridge. Cross-row
  * float sums (q43) use an exact DECIMAL(28,10) bridge.
  */
object LlmExt {
  import Tables._

  /** Brute-force cosine top-k: queries (vec_id < maxQid) are broadcast
    * against all vectors; dot/norms are per-row folds (codegen'd, no
    * shuffle), ranking shuffles only (qid, k) pairs. This is the exact
    * baseline; the bucketed scale path is q52. */
  private def knn(s: SparkSession, d: String, maxQid: Int, k: Int): DataFrame = {
    val emb = embeddings(s, d)
    // Norms are computed ONCE per vector (a single projection pass), not
    // per candidate pair — at N vectors × Q queries that's N+Q folds
    // instead of 3·N·Q.
    // .limit(maxQid) is a NO-OP (vec_ids are unique, so the filter already
    // yields ≤ maxQid rows) that makes the broadcast side's bound
    // STRUCTURAL — PlanAudit's nested-loop gate accepts the build side by
    // plan shape instead of needing a per-query whitelist entry.
    val q = emb
      .where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", DotProduct.norm2(col("qe")))
      .limit(maxQid)
    val a = emb
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("ve"), col("label"))
      .withColumn("vn", DotProduct.norm2(col("ve")))
    a.join(broadcast(q), col("vid") =!= col("qid"))
      .withColumn("cos_sim", DotProduct.dot(col("qe"), col("ve")) / sqrt(col("qn") * col("vn")))
      .withColumn(
        "rnk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("qid")
            .orderBy(col("cos_sim").desc, col("vid"))
        )
      )
      .where(col("rnk") <= k)
  }

  /** The DuckDB spelling of the same brute-force kNN (shared by q41/q42). */
  private def knnSql(maxQid: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id < $maxQid),
       |a AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ve, label FROM embeddings),
       |p AS (SELECT qid, vid, label,
       |        list_aggregate(list_transform(list_zip(qe, ve), x -> x[1]*x[2]), 'sum')
       |          / sqrt(list_aggregate(list_transform(qe, x -> x*x), 'sum')
       |                 * list_aggregate(list_transform(ve, x -> x*x), 'sum')) AS cos_sim
       |      FROM q, a WHERE vid <> qid),
       |r AS (SELECT qid, vid, label, cos_sim,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS INT) AS rnk
       |      FROM p)""".stripMargin

  val defs: Vector[(String, QDef)] = Vector(

    // Exact dedup stats. At 100 TB: group on xxhash64(text) first so the
    // shuffle carries 8-byte keys, and approx_count_distinct (HLL) replaces
    // the exact count where a ±2% answer suffices; declared query is exact.
    "q39_doc_dedup" -> QDef(
      (s, d) =>
        documents(s, d)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_distinct_texts"),
            countDistinct(col("source")).as("n_sources")
          )
          .orderBy("lang"),
      """SELECT lang, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT text) AS n_distinct_texts,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    ),

    // Token-set Jaccard near-dup with sampled blocking. Jaccard is a ratio
    // of integers ⇒ identical doubles raw. Spark side: per-row
    // array_intersect over same-lang blocked pairs — codegen'd set math,
    // no token explode/shuffle. (For a SPARSE real corpus an inverted-
    // index token join wins instead — that shape is the oracle's SQL; for
    // this 31-token dense corpus pairwise intersect is ~4× faster. Either
    // way MinHash-LSH q46 is the real scale path.)
    "q40_near_dup_jaccard" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
          .where(col("doc_id") % 7 === 0)
          .select(
            col("doc_id"), col("lang"),
            array_distinct(split(col("text"), " ")).as("toks")
          )
          .withColumn("sz", size(col("toks")).cast("long"))
        // 32-way spread of the probe side: the sampled doc table is one
        // byte-small split and the build side broadcasts, so the all-pairs
        // array_intersect would otherwise run in one task (q97 lesson).
        docs.repartition(32).as("a")
          .join(
            docs.as("b"),
            col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id")
          )
          .select(
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.sz").as("sz_a"), col("b.sz").as("sz_b"),
            size(array_intersect(col("a.toks"), col("b.toks"))).cast("long").as("n_common")
          )
          .withColumn("jaccard", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
          .where(col("jaccard") >= 0.5)
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      },
      """WITH d AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 7 = 0),
        |toks AS (SELECT DISTINCT doc_id, lang, tok FROM
        |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM d) t),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |          FROM toks a JOIN toks b
        |            ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, n_common,
        |       n_common / (sa.sz + sb.sz - n_common) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin
    ),

    // Brute-force cosine top-5 — the ANN correctness baseline.
    "q41_cosine_topk" -> QDef(
      (s, d) =>
        knn(s, d, 10, 5)
          .select("qid", "vid", "cos_sim", "rnk")
          .orderBy("qid", "rnk"),
      knnSql(10, 5) +
        "\nSELECT qid, vid, cos_sim, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
    ),

    // 5-NN majority-label classification (tie → smaller label).
    "q42_knn_classify" -> QDef(
      (s, d) => {
        val votes = knn(s, d, 20, 5)
          .groupBy(col("qid"), col("label"))
          .agg(count(lit(1)).as("n_votes"))
        votes
          .withColumn(
            "vr",
            row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("qid")
                .orderBy(col("n_votes").desc, col("label"))
            )
          )
          .where(col("vr") === 1)
          .select(col("qid").as("vec_id"), col("label").as("pred_label"), col("n_votes"))
          .orderBy("vec_id")
      },
      knnSql(20, 5) +
        """,
          |votes AS (SELECT qid, label, COUNT(*) AS n_votes FROM r WHERE rnk <= 5 GROUP BY 1, 2),
          |best AS (SELECT qid, label, n_votes,
          |           row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
          |         FROM votes)
          |SELECT qid AS vec_id, label AS pred_label, n_votes
          |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin
    ),

    // Per-label centroids of the first 3 dims. Cross-row float sums go
    // through the exact DECIMAL(28,10) bridge (order-independent ⇒ safe
    // under partial aggregation); the average is a raw double quotient.
    "q43_centroids" -> QDef(
      (s, d) =>
        embeddings(s, d)
          .select(col("label"), posexplode(slice(col("embedding").cast("array<double>"), 1, 3)))
          .groupBy("label", "pos")
          .agg(
            count(lit(1)).as("n_vecs"),
            (sum(col("col").cast(DecimalType(28, 10))).cast("double") / count(lit(1))).as("avg_val")
          )
          .select(col("label"), col("pos").cast("int").as("dim"), col("n_vecs"), col("avg_val"))
          .orderBy("label", "dim"),
      """SELECT label, CAST(pos - 1 AS INT) AS dim, COUNT(*) AS n_vecs,
        |       CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS avg_val
        |FROM (SELECT label, unnest(CAST(embedding[1:3] AS DOUBLE[])) AS val,
        |             generate_subscripts(embedding[1:3], 1) AS pos
        |      FROM embeddings) t
        |GROUP BY label, pos ORDER BY label, dim""".stripMargin
    ),

    // Text analysis: per-language corpus statistics.
    "q44_text_stats" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
        val base = docs
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
            (sum(size(split(col("text"), " "))).cast("double") / count(lit(1))).as("avg_toks")
          )
        val dt = docs
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang")
          .agg(countDistinct(col("tok")).as("n_distinct_toks"))
        base.join(dt, "lang").orderBy("lang")
      },
      """WITH base AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_toks
        |  FROM documents GROUP BY lang),
        |dt AS (
        |  SELECT lang, COUNT(DISTINCT tok) AS n_distinct_toks
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY lang)
        |SELECT b.lang AS lang, n_docs, avg_chars, avg_toks, n_distinct_toks
        |FROM base b JOIN dt ON b.lang = dt.lang ORDER BY 1""".stripMargin
    ),

    // Global term frequency — explode IS Spark's generator (UDTF slot).
    "q45_term_freq" -> QDef(
      (s, d) =>
        documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20),
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin
    ),

    // BPE-ish token counting: a GPT-2-style pretokenizer regex (ASCII
    // classes only, no groups, no lookaround — java.util.regex and RE2
    // agree exactly on it; both engines use leftmost-first alternation).
    // Space-prefixed runs are distinct tokens from initial runs (" row" vs
    // "row") — the pretokenizer distinction BPE vocabularies encode — so
    // n_distinct_bpe genuinely differs from a whitespace distinct count.
    "q61_bpe_tokens" -> QDef(
      (s, d) => {
        val pat = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9']+"
        documents(s, d)
          .select(
            col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_ws_toks"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_toks"),
            size(array_distinct(regexp_extract_all(col("text"), lit(pat), lit(0))))
              .cast("long").as("n_distinct_bpe")
          )
          .orderBy("doc_id")
          .limit(300)
      },
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_toks,
        |  CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9'']+'))
        |    AS BIGINT) AS n_bpe_toks,
        |  CAST(len(list_distinct(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9'']+')))
        |    AS BIGINT) AS n_distinct_bpe
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin
    )
  )
}
