package graft.ops

import graft.{Det, QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotProduct

/** Round-10 batch 2: cross-source corpus audits (q160 overlap matrix,
  * q162 next-token predictability), an embedding-space quality audit
  * (q161), the ordered string-aggregation SQL surface (q163), and a
  * rank-trajectory analytic over the star schema (q164).
  *
  * Determinism: exact integer counts everywhere; money sums through the
  * Det.dsum DECIMAL(18,4) bridge; float-array folds via the shared
  * DotProduct sequential left fold (bit-identical to DuckDB
  * list_aggregate, see CLAUDE.md); every emitted ratio a raw IEEE
  * quotient; ordered string aggregation sorts explicitly; total output
  * orders throughout.
  */
object Round10b {
  import Tables._

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q160
    // Pairwise source content-overlap matrix: Jaccard between each source
    // pair's distinct token-TRIGRAM sets (exact text never repeats across
    // sources in this corpus — probed — so the shingle profile is the
    // meaningful overlap signal; same 3-gram unit as q73's
    // decontamination). The corpus-level complement of q157
    // (self-inflation) and q158 (first-occurrence credit). Scale: the
    // distinct (source, gram) table is vocab³-bounded; the pair join is an
    // equi-join on gram (at 100 TB key it by xxhash64(gram)); output
    // bounded by source².
    "q160_source_overlap" -> QDef(
      (s, d) => {
        // grams collapse to xxhash64 BEFORE the distinct+join: the
        // shuffle/join keys drop from ~15-byte strings to 8-byte longs
        // (the q157 scale note, applied); every count is identical to the
        // oracle's string-keyed counts absent a 64-bit collision, which
        // the hash-green parity gate would surface
        val st = documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .where(size(col("toks")) >= 3)
          .select(col("source"),
            explode(transform(
              sequence(lit(1), size(col("toks")) - 2),
              i => concat_ws(" ",
                element_at(col("toks"), i),
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2)))).as("gs"))
          .select(col("source"), xxhash64(col("gs")).as("g"))
          .distinct()
        val sz = st.groupBy("source").agg(count(lit(1)).as("sz"))
        val pairs = st.as("a")
          .join(st.as("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        pairs
          .join(broadcast(sz.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
          .join(broadcast(sz.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
          .withColumn("jaccard",
            col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
          .select("src_a", "src_b", "n_common", "sz_a", "sz_b", "jaccard")
          .orderBy("src_a", "src_b")
      },
      """WITH st AS (
        |  SELECT DISTINCT source,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM (SELECT source, string_split(text, ' ') AS toks,
        |          unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS i
        |        FROM documents) t),
        |sz AS (SELECT source, COUNT(*) AS sz FROM st GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        |      FROM st a JOIN st b ON a.g = b.g AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, za.sz AS sz_a, zb.sz AS sz_b,
        |       n_common / (za.sz + zb.sz - n_common) AS jaccard
        |FROM p JOIN sz za ON p.src_a = za.source
        |       JOIN sz zb ON p.src_b = zb.source
        |ORDER BY src_a, src_b""".stripMargin
    ),

    // --------------------------------------------------------------- q161
    // Embedding-space outlier audit: per label, the cosine of every vector
    // to its label centroid — min/max plus the count pointing AWAY from
    // the centroid (cos < 0) — the "mislabeled / junk embedding" screen run
    // before ANN index builds (q52/q62). Centroid dims are built from
    // FLOOR(x*1e9) integer quantization: floor and the *1e9 product are
    // exact IEEE (bit-identical across engines on identical doubles), the
    // long sums are exact and order-free under partial aggregation, and
    // the two-step /n then /1e9 division is raw IEEE — unlike a
    // double→DECIMAL cast of arbitrary (non-2-decimal) doubles, which
    // half-ulp-ties differently per engine (probed: 1e-11 cos divergence
    // via the DECIMAL(28,10) bridge on this data). The per-row cosine is
    // the shared sequential-left-fold dot product (bit-identical across
    // Spark HOF / DotProduct / DuckDB list_aggregate); min/max/count over
    // bit-identical doubles are exact.
    // Scale: one explode-aggregate (map-side combinable) + a broadcast of
    // label-count rows; no self-join.
    "q161_embed_outliers" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
          .select(col("label"), col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val centLong = emb
          .select(col("label"), posexplode(col("ve")))
          .select(col("label"), col("pos"),
            floor(col("col") * lit(1e9)).cast("long").as("q"))
          .groupBy("label", "pos")
          .agg(((sum(col("q")).cast("double") / count(lit(1))) / lit(1e9)).as("cval"))
        val cent = centLong
          .groupBy("label")
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("cval")))),
            x => x.getField("cval")).as("ce"))
        emb.join(broadcast(cent), "label")
          .withColumn("cos",
            DotProduct.dot(col("ve"), col("ce")) / sqrt(DotProduct.norm2(col("ve")) * DotProduct.norm2(col("ce"))))
          .groupBy("label")
          .agg(
            count(lit(1)).as("n_vecs"),
            min("cos").as("min_cos"),
            max("cos").as("max_cos"),
            count(when(col("cos") < 0.0, 1)).as("n_away"))
          .orderBy("label")
      },
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS ve
        |           FROM embeddings),
        |cl AS (SELECT label, pos,
        |         CAST(SUM(CAST(FLOOR(val * 1e9) AS BIGINT)) AS DOUBLE)
        |           / COUNT(*) / 1e9 AS cval
        |       FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS val,
        |                    generate_subscripts(embedding, 1) AS pos
        |             FROM embeddings) t
        |       GROUP BY 1, 2),
        |c AS (SELECT label, list(cval ORDER BY pos) AS ce FROM cl GROUP BY 1),
        |sc AS (SELECT e.label, vec_id,
        |         list_aggregate(list_transform(list_zip(ve, ce), x -> x[1]*x[2]), 'sum')
        |         / sqrt(list_aggregate(list_transform(ve, x -> x*x), 'sum')
        |              * list_aggregate(list_transform(ce, x -> x*x), 'sum')) AS cos
        |       FROM e JOIN c ON e.label = c.label)
        |SELECT label, COUNT(*) AS n_vecs, MIN(cos) AS min_cos, MAX(cos) AS max_cos,
        |       COUNT(CASE WHEN cos < 0.0 THEN 1 END) AS n_away
        |FROM sc GROUP BY 1 ORDER BY label""".stripMargin
    ),

    // --------------------------------------------------------------- q162
    // Next-token predictability per language: the share of bigram mass
    // captured by each context's single most frequent continuation —
    // Σ_t1 max_t2 c(t1,t2) / Σ c. High predictability means template/
    // boilerplate text (the sequence-level complement of q155's entropy
    // and q156's NLL). Bigram extraction is the q156 position self-join
    // (keyed by doc_id); everything after is vocab-scale. Exact counts,
    // raw-quotient share.
    "q162_next_token_predictability" -> QDef(
      (s, d) => {
        val t = documents(s, d)
          .select(col("doc_id"), col("lang"), posexplode(split(col("text"), " ")))
          .withColumnsRenamed(Map("pos" -> "pos", "col" -> "tok"))
        val bg = t.as("a")
          .join(t.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
          .select(col("a.lang").as("lang"), col("a.tok").as("t1"), col("b.tok").as("t2"))
        val c2 = bg.groupBy("lang", "t1", "t2").agg(count(lit(1)).as("c12"))
        c2.groupBy("lang", "t1")
          .agg(max("c12").as("top_c"), sum("c12").as("ctx_total"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_contexts"),
            sum("ctx_total").as("n_bigrams"),
            sum("top_c").as("top1_mass"))
          .withColumn("predictability", col("top1_mass") / col("n_bigrams"))
          .orderBy("lang")
      },
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(string_split(text, ' ')) AS tok,
        |             generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |bg AS (SELECT a.lang, a.tok AS t1, b.tok AS t2
        |       FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |c2 AS (SELECT lang, t1, t2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, t1, MAX(c12) AS top_c, SUM(c12) AS ctx_total
        |        FROM c2 GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_contexts,
        |       CAST(SUM(ctx_total) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(top_c) AS BIGINT) AS top1_mass,
        |       CAST(SUM(top_c) AS BIGINT) / CAST(SUM(ctx_total) AS BIGINT)
        |         AS predictability
        |FROM ctx GROUP BY 1 ORDER BY lang""".stripMargin
    ),

    // --------------------------------------------------------------- q163
    // Ordered string aggregation (the LISTAGG/STRING_AGG SQL surface): the
    // per-language vocabulary as an alphabetically-ordered CSV — exercised
    // as the portable spelling concat_ws over an explicitly sorted distinct
    // set (collect_set order is engine-internal; the sort is what makes the
    // result deterministic, same discipline as q143's golden-record CSV).
    // Scale: distinct (lang, tok) is vocab-sized; the aggregation output is
    // one row per language.
    "q163_vocab_stringagg" -> QDef(
      (s, d) =>
        documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang")
          .agg(
            countDistinct("tok").as("n_vocab"),
            concat_ws(",", array_sort(collect_set(col("tok")))).as("vocab_csv"))
          .withColumn("csv_len", length(col("vocab_csv")))
          .orderBy("lang"),
      """SELECT lang, COUNT(DISTINCT tok) AS n_vocab,
        |       string_agg(DISTINCT tok, ',' ORDER BY tok) AS vocab_csv,
        |       CAST(len(string_agg(DISTINCT tok, ',' ORDER BY tok)) AS INT) AS csv_len
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |GROUP BY 1 ORDER BY lang""".stripMargin
    ),

    // --------------------------------------------------------------- q164
    // Nation revenue-rank trajectories: monthly revenue rank per nation
    // plus the month-over-month rank delta — the "movers" report. Revenue
    // through the exact decimal bridge; ranks are row_number with a
    // nation tie-break; both windows are KEYED (by month / by nation) —
    // never global. Scale: one join-agg shuffle keyed by (month, nation);
    // the rank windows run over nation-count-sized partitions.
    "q164_rank_movers" -> QDef(
      (s, d) => {
        val rev = orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(
            date_trunc("month", col("o_orderdate")).cast("date").as("month"),
            col("n_name").as("nation"))
          .agg(Det.dsum(col("o_totalprice")).as("revenue"))
        rev
          .withColumn("rnk",
            row_number().over(
              Window.partitionBy("month").orderBy(col("revenue").desc, col("nation"))))
          .withColumn("rank_delta",
            (col("rnk") - lag("rnk", 1).over(
              Window.partitionBy("nation").orderBy("month"))).cast("int"))
          .select("month", "nation", "revenue", "rnk", "rank_delta")
          .orderBy("month", "rnk")
      },
      s"""WITH rev AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         n_name AS nation,
        |         ${Det.sqlDsum("o_totalprice")} AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT month, nation, revenue,
        |         CAST(row_number() OVER (PARTITION BY month
        |                                 ORDER BY revenue DESC, nation) AS INT) AS rnk
        |       FROM rev)
        |SELECT month, nation, revenue, rnk,
        |       CAST(rnk - lag(rnk) OVER (PARTITION BY nation ORDER BY month) AS INT)
        |         AS rank_delta
        |FROM rk ORDER BY month, rnk""".stripMargin
    )
  )
}
