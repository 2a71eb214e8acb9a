package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 training-data-curation operators (q69–q76): the sampling,
  * weighting, packing, compression, decontamination, and mixing steps a
  * 100 TB pretraining pipeline runs between dedup and the trainer. Every query keeps the repo's
  * determinism contract — portable hashes (md5 hex, identical in Spark and
  * DuckDB), exact integer/decimal math, raw IEEE doubles for quotients,
  * rounding only on transcendentals (ln, the q27 pattern).
  *
  * Scale postures:
  *  - q69 sampling is a pure projection + filter — no shuffle at all; the
  *    sampling decision is a hash of the row's own key, so it is stable
  *    under re-partitioning, retries, and incremental re-runs (the property
  *    that makes hash-sampling the production standard vs rand()).
  *  - q70 TF-IDF is two hash aggregations and a broadcast-size join of
  *    per-language doc counts — the classic map-side-combinable shape.
  *  - q71 packing needs a GLOBAL exclusive prefix-sum of token counts;
  *    the naive form is one task sorting the corpus, so it runs on
  *    [[Scan.runningSumByRange]] (range-bucketed two-pass scan) over a
  *    deterministic shuffle permutation — exactly how a real pipeline
  *    shuffles then packs.
  *  - q72 quantization is per-row array math (no shuffle); int8 codes and
  *    reconstruction error come out of one pass over the vectors.
  */
object Curation {
  import Tables._

  /** q75's dedup core over (doc_id, lang, ids): the delta batch
    * (doc_id % 5 == 0) probes the history's (lang, band, sig) minhash
    * band signatures, and each colliding pair is exact-Jaccard verified
    * on the id arrays. Returns (new_id, hist_id, jaccard), jaccard ≥ 0.6.
    * Band signatures come from LlmExt2.explodeBandSigs: staged per-row
    * projections, no per-band exchange — identical values to the
    * oracle's groupBy form. */
  private[graft] def deltaMatches(tokIds: DataFrame): DataFrame = {
    val sig = LlmExt2.explodeBandSigs(tokIds).localCheckpoint()
    val hist = sig.where(col("doc_id") % 5 =!= 0)
    val delta = sig.where(col("doc_id") % 5 === 0)
    val cand = delta.as("n")
      .join(hist.as("h"), col("n.band") === col("h.band") && col("n.sig") === col("h.sig") &&
        col("n.lang") === col("h.lang"))
      .select(col("n.doc_id").as("new_id"), col("h.doc_id").as("hist_id"))
      .distinct()
    val idArrs = tokIds.select(col("doc_id"), col("ids"))
    cand
      .join(idArrs.select(col("doc_id").as("new_id"), col("ids").as("ids_n")), "new_id")
      .join(idArrs.select(col("doc_id").as("hist_id"), col("ids").as("ids_h")), "hist_id")
      .withColumn("n_common", size(array_intersect(col("ids_n"), col("ids_h"))).cast("long"))
      .withColumn("jaccard",
        col("n_common") / (size(col("ids_n")) + size(col("ids_h")) - col("n_common")))
      .where(col("jaccard") >= 0.6)
      .select("new_id", "hist_id", "jaccard")
  }

  /** Portable deterministic bucket in [0, 100): first 15 hex chars of
    * md5(key) as an int. Identical in DuckDB via
    * `CAST(('0x' || substring(md5(key),1,15)) AS BIGINT) % 100`. */
  private def md5Bucket(key: org.apache.spark.sql.Column) =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % 100

  val defs: Vector[(String, QDef)] = Vector(

    // ---------------------------------------------------------------- q69
    // Stratified hash sampling: per-language keep rates (en is upweighted,
    // everything else downsampled) decided by a deterministic hash of
    // doc_id — re-running the pipeline, re-partitioning the corpus, or
    // adding new documents never changes the verdict on an existing doc.
    // No shuffle: the plan is scan → project → filter (+ the output sort,
    // which only exists for the hash compare).
    "q69_stratified_sample" -> QDef(
      (s, d) =>
        documents(s, d)
          .withColumn("bucket", md5Bucket(col("doc_id")))
          .where(col("bucket") < when(col("lang") === "en", 50L).otherwise(20L))
          .select("doc_id", "lang", "source", "bucket")
          .orderBy("doc_id"),
      """SELECT doc_id, lang, source,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
        |ORDER BY doc_id""".stripMargin
    ),

    // ---------------------------------------------------------------- q70
    // TF-IDF top terms per language: idf = ln(n_docs / df) over the
    // language's corpus, score = total term frequency × idf. Two hash
    // aggregations (both map-side combinable) + a per-language doc-count
    // join (|langs| rows — broadcast). ln is transcendental → rounded to 4
    // like q27; ties on the rounded score break on tok so the top-10 cut
    // is deterministic.
    "q70_tfidf_terms" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
        val tf = docs
          .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang", "tok")
          .agg(count(lit(1)).as("tf_total"), countDistinct(col("doc_id")).as("df"))
        val nDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .join(broadcast(nDocs), "lang")
          .withColumn("score", round(col("tf_total") * log(col("n_docs") / col("df")), 4))
        scored
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(col("score").desc, col("tok"))))
          .where(col("rk") <= 10)
          .select("lang", "tok", "tf_total", "df", "score", "rk")
          .orderBy("lang", "rk")
      },
      """WITH tf AS (
        |  SELECT lang, tok, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df
        |  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY lang, tok),
        |nd AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |scored AS (
        |  SELECT tf.lang, tok, tf_total, df,
        |         round(tf_total * ln(n_docs / df), 4) AS score
        |  FROM tf JOIN nd ON tf.lang = nd.lang),
        |rk AS (
        |  SELECT lang, tok, tf_total, df, score,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT lang, tok, tf_total, df, score, rk FROM rk
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin
    ),

    // ---------------------------------------------------------------- q71
    // Sequence packing (concat-then-chunk): deterministically shuffle the
    // corpus (the same 7919/104729 permutation as q63), lay documents
    // end-to-end, and chunk the token stream into 256-token training
    // windows. Each doc's byte offset is the EXCLUSIVE prefix sum of token
    // counts over the global shuffle order — computed by the two-pass
    // range-bucketed scan (Scan.runningSumByRange), not a single-partition
    // window: at 100 TB the offset assignment stays one partitioned window
    // + a P-row prefix + a broadcast join. The oracle replays the same
    // prefix sum as a plain window, which DuckDB can afford at sf.
    "q71_seq_pack" -> QDef(
      (s, d) => {
        val docs = documents(s, d)
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
          .withColumn("perm", (col("doc_id") * 7919) % 104729)
        Scan.runningSumByRange(
            docs, col("perm"), col("doc_id"), col("n_tok"),
            "offset", lo = 0L, hi = 104729L)
          .withColumn("window_id", expr("offset DIV 256"))
          .withColumn("pos_in_window", col("offset") % 256)
          .select("doc_id", "n_tok", "offset", "window_id", "pos_in_window")
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         (doc_id * 7919) % 104729 AS perm
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY perm, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY perm, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS window_id,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY perm, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 256 AS BIGINT) AS pos_in_window
        |FROM t ORDER BY doc_id""".stripMargin
    ),

    // ---------------------------------------------------------------- q72
    // Int8 scalar quantization of embeddings (the storage/ANN-memory
    // compression step): per-vector scale = max |x_i|, code_i =
    // floor(x_i·127/scale), plus the exact reconstruction error. All
    // per-row array math — no shuffle; floor keeps the codes integral
    // (exact in both engines, unlike round-on-quotient), and the error
    // fold is the same sequential left fold both engines use for list
    // sums, on identical IEEE inputs (float→double casts are exact).
    "q72_embed_quantize" -> QDef(
      (s, d) =>
        embeddings(s, d)
          .withColumn("maxabs",
            array_max(transform(col("embedding"), x => abs(x))).cast("double"))
          .where(col("maxabs") > 0)
          .withColumn("qsum",
            aggregate(
              transform(col("embedding"),
                x => floor(x.cast("double") * 127.0 / col("maxabs")).cast("long")),
              lit(0L), (a, v) => a + v))
          .withColumn("err",
            aggregate(
              transform(col("embedding"),
                x => (x.cast("double")
                  - floor(x.cast("double") * 127.0 / col("maxabs")) * col("maxabs") / 127.0)
                  * (x.cast("double")
                  - floor(x.cast("double") * 127.0 / col("maxabs")) * col("maxabs") / 127.0)),
              lit(0.0), (a, v) => a + v))
          .select("vec_id", "maxabs", "qsum", "err")
          .orderBy("vec_id"),
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, maxabs,
        |  CAST(list_aggregate(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)), 'sum') AS BIGINT) AS qsum,
        |  list_aggregate(list_transform(embedding,
        |    x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127.0 / maxabs) * maxabs / 127.0)
        |       * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127.0 / maxabs) * maxabs / 127.0)),
        |    'sum') AS err
        |FROM m WHERE maxabs > 0 ORDER BY vec_id""".stripMargin
    ),

    // ---------------------------------------------------------------- q73
    // Eval decontamination: the held-out benchmark set (doc_id % 97 — a
    // deterministic carve of the same distribution, which is exactly how
    // contamination arises) is checked against the training corpus for
    // shared token trigrams. Join shape is an equi-join on the gram — the
    // benchmark side is tiny (1/97 of docs) so Spark broadcasts it and the
    // corpus side never shuffles; n_shared counts DISTINCT shared grams
    // per (bench, train) pair. This is the n-gram-collision
    // decontamination step every pretraining pipeline runs before eval.
    "q73_decontaminate" -> QDef(
      (s, d) => {
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("toks", split(col("text"), " "))
          // guard: Spark's sequence(1, n) runs DESCENDING for n < 1, so a
          // <3-token doc would index element_at(toks, 0) and throw;
          // DuckDB's generate_series just comes back empty
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(array_distinct(transform(
              sequence(lit(1), size(col("toks")) - 2),
              i => concat_ws(" ",
                element_at(col("toks"), i),
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2))))).as("g"))
        val docs = documents(s, d)
        val bench = grams(docs.where(col("doc_id") % 97 === 0))
          .withColumnRenamed("doc_id", "bench_id")
        val train = grams(docs.where(col("doc_id") % 97 =!= 0))
        train.join(broadcast(bench), "g")
          .groupBy("bench_id", "doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .orderBy("bench_id", "doc_id")
      },
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |          unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS i
        |        FROM documents) t),
        |bench AS (SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0)
        |SELECT bench_id, doc_id, COUNT(*) AS n_shared
        |FROM train JOIN bench USING (g)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY bench_id, doc_id""".stripMargin
    ),

    // ---------------------------------------------------------------- q74
    // Domain-mixing weights: per-language token counts vs a uniform target
    // distribution → the per-language sampling weight a mixture loader
    // would apply. One hash aggregation + a 1-row cross join; fractions
    // and weights are raw IEEE double quotients (identical in both
    // engines on identical longs — never rounded, per the determinism
    // contract).
    "q74_mix_weights" -> QDef(
      (s, d) => {
        val perLang = documents(s, d)
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
          .groupBy("lang").agg(sum(col("n_tok")).as("lang_toks"))
        val totals = perLang.agg(
          sum(col("lang_toks")).as("total_toks"),
          count(lit(1)).as("n_langs"))
        perLang.crossJoin(totals)
          .withColumn("cur_frac", col("lang_toks") / col("total_toks"))
          .withColumn("weight", (lit(1.0) / col("n_langs")) / (col("lang_toks") / col("total_toks")))
          .select("lang", "lang_toks", "total_toks", "cur_frac", "weight")
          .orderBy("lang")
      },
      """WITH pl AS (
        |  SELECT lang, CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS lang_toks
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(lang_toks) AS BIGINT) AS total_toks, COUNT(*) AS n_langs FROM pl)
        |SELECT lang, lang_toks, total_toks,
        |       lang_toks / total_toks AS cur_frac,
        |       (CAST(1 AS DOUBLE) / n_langs) / (lang_toks / total_toks) AS weight
        |FROM pl CROSS JOIN t
        |ORDER BY lang""".stripMargin
    ),

    // ---------------------------------------------------------------- q75
    // Incremental dedup: a DELTA batch (doc_id % 5 == 0 of the q46 sample
    // universe) arrives against the HISTORICAL corpus (the rest). Only the
    // delta's minhash band signatures probe the history's — in production
    // the history side is a persisted signature index (written once,
    // bucketed by (lang, band, sig)), so ingesting N new docs costs
    // O(N · bands) index probes, never a rescan of 100 TB of history.
    // Each colliding pair is exact-Jaccard-verified (array intersection,
    // the q46 shape) and every duplicate delta doc reports its canonical:
    // the smallest matching history doc. Same 16-hash/4-band family and
    // dictionary ids as q46 so DuckDB replays everything.
    "q75_incremental_dedup" -> QDef(
      (s, d) => {
        val toks = documents(s, d)
          .where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .localCheckpoint()
        val dict = LlmExt2.tokenDict(toks)
        val tokIds = toks.join(dict, "tok")
          .groupBy("doc_id", "lang")
          .agg(collect_list(col("tid").cast("long")).as("ids"))
          .localCheckpoint()
        deltaMatches(tokIds)
          .withColumn("rk", row_number().over(
            Window.partitionBy("new_id").orderBy("hist_id")))
          .where(col("rk") === 1)
          .select(col("new_id"), col("hist_id").as("canonical_id"), col("jaccard"))
          .orderBy("new_id")
      },
      s"""WITH toks AS (SELECT DISTINCT doc_id, lang, tok FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
         |   WHERE doc_id % 3 = 0) t),
         |dict AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
         |         FROM (SELECT DISTINCT tok FROM toks) u),
         |tid AS (SELECT doc_id, lang, tid FROM toks JOIN dict USING (tok)),
         |mh AS (SELECT doc_id, lang, i, MIN((h.mult*tid + (7*i+5)) % 104729) AS mh
         |       FROM tid CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i,
         |                    unnest([${LlmExt2.mhMultsSql}]) AS mult) h
         |       GROUP BY doc_id, lang, i),
         |sig AS (SELECT doc_id, lang, CAST(i // 4 AS BIGINT) AS band,
         |          CAST(SUM(mh * CASE WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 131
         |                             WHEN i % 4 = 2 THEN 17161 ELSE 2248091 END) AS BIGINT) AS sig
         |        FROM mh GROUP BY 1, 2, 3),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
         |         FROM sig n JOIN sig h ON n.band = h.band AND n.sig = h.sig
         |           AND n.lang = h.lang
         |         WHERE n.doc_id % 5 = 0 AND h.doc_id % 5 <> 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
         |inter AS (SELECT c.new_id, c.hist_id, COUNT(*) AS n_common
         |          FROM cand c JOIN toks ta ON ta.doc_id = c.new_id
         |                      JOIN toks tb ON tb.doc_id = c.hist_id AND tb.tok = ta.tok
         |          GROUP BY 1, 2),
         |ver AS (SELECT new_id, hist_id,
         |          n_common / (sa.sz + sb.sz - n_common) AS jaccard
         |        FROM inter JOIN sizes sa ON sa.doc_id = new_id
         |                   JOIN sizes sb ON sb.doc_id = hist_id
         |        WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.6)
         |SELECT new_id, hist_id AS canonical_id, jaccard FROM
         |  (SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY hist_id) AS rk FROM ver) r
         |WHERE rk = 1 ORDER BY new_id""".stripMargin
    ),

    // ---------------------------------------------------------------- q76
    // Exact-k per-stratum sampling: every (lang, source) stratum
    // contributes exactly min(k, |stratum|) docs, chosen by the portable
    // md5 hash order — a deterministic "uniform" draw that is stable under
    // re-partitioning and incremental growth of OTHER strata. The rank
    // filter plans as a WindowGroupLimit (per-key partial top-k,
    // PlanShapeSpec's family), so no stratum ever materializes more than k
    // rows past the limit push.
    "q76_stratum_topk_sample" -> QDef(
      (s, d) =>
        documents(s, d)
          .withColumn("h", conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang", "source").orderBy("h", "doc_id")))
          .where(col("rn") <= 2)
          .select("lang", "source", "doc_id", "h", "rn")
          .orderBy("lang", "source", "rn"),
      """SELECT lang, source, doc_id, h, rn FROM (
        |  SELECT lang, source, doc_id,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |         CAST(row_number() OVER (PARTITION BY lang, source
        |           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS INTEGER) AS rn
        |  FROM documents) t
        |WHERE rn <= 2
        |ORDER BY lang, source, rn""".stripMargin
    )
  )
}
