package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 oracle-gated audits of the two layers that were previously
  * spec-only (VERDICT r5 "What's missing" #2/#3): the multimodal column
  * story (q77) and the end-to-end curation pipeline (q78). Both put
  * whole-COMPONENT behavior under the driver's DuckDB hash gate instead of
  * only their parts.
  */
object Audit {
  import Tables._

  val defs: Vector[(String, QDef)] = Vector(

    // ---------------------------------------------------------------- q77
    // Multimodal metadata aggregation: per (kind, format, orientation)
    // counts and dimension stats over the synthesized media table
    // (multimodal/Multimodal.synthesize). The query touches METADATA ONLY,
    // so column pruning must push through the synthesize projection and
    // the scan must never read the payload's source column (`text`) —
    // MultimodalSpec asserts ReadSchema is exactly the metadata columns.
    // At 100 TB this is the difference between an interactive catalog scan
    // and decoding the archive. Determinism: avg dims are raw long/long
    // IEEE quotients (never rounded); sums bridge HUGEINT via CAST.
    "q77_media_meta" -> QDef(
      (s, d) =>
        graft.multimodal.Multimodal.synthesize(s, d).toDF()
          .withColumn("orient",
            when(col("width") >= col("height"), "landscape").otherwise("portrait"))
          .groupBy("kind", "format", "orient")
          .agg(
            count(lit(1)).as("n_media"),
            sum(col("width").cast("long")).as("sum_w"),
            sum(col("height").cast("long")).as("sum_h"),
            min(col("width")).as("min_w"),
            max(col("width")).as("max_w"))
          .withColumn("avg_w", col("sum_w") / col("n_media"))
          .withColumn("avg_h", col("sum_h") / col("n_media"))
          .orderBy("kind", "format", "orient"),
      """WITH m AS (
        |  SELECT 'image' AS kind, 'fake-rgb' AS format,
        |         CAST(n_chars % 64 + 16 AS INTEGER) AS width,
        |         CAST(n_chars % 48 + 16 AS INTEGER) AS height
        |  FROM documents)
        |SELECT kind, format,
        |       CASE WHEN width >= height THEN 'landscape' ELSE 'portrait' END AS orient,
        |       COUNT(*) AS n_media,
        |       CAST(SUM(width) AS BIGINT) AS sum_w,
        |       CAST(SUM(height) AS BIGINT) AS sum_h,
        |       MIN(width) AS min_w, MAX(width) AS max_w,
        |       CAST(SUM(width) AS BIGINT) / COUNT(*) AS avg_w,
        |       CAST(SUM(height) AS BIGINT) / COUNT(*) AS avg_h
        |FROM m GROUP BY 1, 2, 3
        |ORDER BY kind, format, orient""".stripMargin
    ),

    // ---------------------------------------------------------------- q78
    // End-to-end pipeline audit: the per-stage survivor counts of
    // TrainingDataPipeline (input → quality filter → language filter →
    // exact dedup → near-dup cluster dedup) as ONE five-row DataFrame,
    // replayed stage-for-stage in DuckDB — including the MinHash-LSH pair
    // generation (portableIds dictionary so both engines hash identically)
    // and the connected-components dedup (recursive-CTE transitive closure
    // on the oracle side vs Dedup's pointer-jumping min-label on ours).
    // Like q46/q75 this is the doc_id % 3 AUDIT TWIN of the unsampled
    // production run (pipeline/TrainingDataPipeline.scala): same formulas,
    // same thresholds, bounded cost. The count contract is what a real
    // curation run ships as its audit trail.
    "q78_pipeline_counts" -> QDef(
      (s, d) => {
        val stops = array(Seq("a", "the", "row", "value", "table", "and", "of").map(lit): _*)
        // Score ONCE and materialize the (doc_id, lang, text, n_toks,
        // quality) table — every later stage (3 survivor counts, the exact
        // dedup window, the pair build) derives from it. Before this
        // checkpoint the stage-count union branches each re-scanned and
        // re-scored the corpus, and each branch re-compiled its own copy
        // of the HOF quality expression (the q80 lesson; this was most of
        // q78's bench cost). Production ships this score table anyway.
        val scored = documents(s, d).where(col("doc_id") % 3 === 0)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_toks", size(col("toks")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("n_stop",
            size(filter(col("toks"), t => array_contains(stops, t))).cast("long"))
          .withColumn("quality",
            lit(0.5) * (col("n_distinct") / col("n_toks")) +
              lit(0.3) * (lit(1.0) - col("n_stop") / col("n_toks")) +
              lit(0.2) * (least(col("n_toks"), lit(100L)) / 100.0))
          .select("doc_id", "lang", "text", "n_toks", "quality")
          .localCheckpoint()
        val qualCond = col("quality") >= 0.55 && col("n_toks") >= 10
        val langs = Seq("en", "de", "fr", "es", "zh") // langIdx decodes this same Seq
        val langCond = col("lang").isin(langs: _*)
        val langKept = scored.where(qualCond && langCond)
        // exact dedup: min doc_id per identical text. The lang of the
        // winning doc rides an ENCODED PRIMITIVE key — min(doc_id·8 +
        // langIdx) has the same argmin as min(doc_id) (doc_ids unique,
        // idx < 8) and decodes exactly. The previous min_by(lang, doc_id)
        // was a struct-buffered declarative aggregate, which demoted the
        // WHOLE exact-dedup to SortAggregate (sorts every kept row by
        // text — the r16 PlanAudit non-primitive-SortAggregate gate
        // caught it hiding inside this checkpoint job); the primitive
        // form is a hash aggregate with map-side combine, O(1)/row.
        // The count equals COUNT(DISTINCT text).
        val langIdx = langs.zipWithIndex
          .foldLeft(lit(7L)) { case (e, (l, i)) => when(col("lang") === l, i.toLong).otherwise(e) }
        val exact = langKept
          .groupBy("text")
          .agg(min(col("doc_id") * 8 + langIdx).as("k"))
          .select(expr("k DIV 8").as("doc_id"),
            element_at(array(langs.map(lit): _*), (col("k") % 8).cast("int") + 1).as("lang"),
            col("text"))
          .localCheckpoint() // feeds the pair build, the anti-join, and its own count
        val pairs = LlmExt2
          .minhashLshPairs(exact, threshold = 0.6, materialize = true, portableIds = true)
          .select("doc_a", "doc_b")
        val near = Dedup.dedupByCluster(exact, pairs)
        def stage(id: Int, nm: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n"))
            .select(lit(id).as("stage_id"), lit(nm).as("stage"), col("n"))
        // stages 1-3 are ONE pass over the score table (conditional counts)
        val s123 = scored
          .agg(
            count(lit(1)).as("n1"),
            count(when(qualCond, 1)).as("n2"),
            count(when(qualCond && langCond, 1)).as("n3"))
          .select(explode(array(
            struct(lit(1).as("stage_id"), lit("input").as("stage"), col("n1").as("n")),
            struct(lit(2).as("stage_id"), lit("quality").as("stage"), col("n2").as("n")),
            struct(lit(3).as("stage_id"), lit("lang").as("stage"), col("n3").as("n")))))
          .select("col.*")
        s123
          .unionAll(stage(4, "exact_dedup", exact))
          .unionAll(stage(5, "near_dedup", near))
          .orderBy("stage_id")
      },
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 3 = 0),
        |scored AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(toks) AS BIGINT) AS n_toks,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(toks, t -> t IN ('a','the','row','value','table','and','of'))) AS BIGINT) AS n_stop
        |  FROM base),
        |qual AS (SELECT doc_id, lang, text FROM scored
        |  WHERE 0.5*(n_distinct/n_toks) + 0.3*(1.0 - n_stop/n_toks)
        |        + 0.2*(least(n_toks, 100)/100.0) >= 0.55
        |    AND n_toks >= 10),
        |langk AS (SELECT * FROM qual WHERE lang IN ('en','de','fr','es','zh')),
        |ex AS (SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM langk) t WHERE rn = 1),
        |toks AS (SELECT DISTINCT doc_id, lang, tok FROM
        |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM ex) t),
        |dict AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
        |         FROM (SELECT DISTINCT tok FROM toks) u),
        |tid AS (SELECT doc_id, lang, tid FROM toks JOIN dict USING (tok)),
        |mh AS (SELECT doc_id, lang, i, MIN((h.mult*tid + (7*i+5)) % 104729) AS mh
        |       FROM tid CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i,
        |                    unnest([${graft.ops.LlmExt2.mhMultsSql}]) AS mult) h
        |       GROUP BY doc_id, lang, i),
        |sig AS (SELECT doc_id, lang, CAST(i // 4 AS BIGINT) AS band,
        |          CAST(SUM(mh * CASE WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 131
        |                             WHEN i % 4 = 2 THEN 17161 ELSE 2248091 END) AS BIGINT) AS sig
        |        FROM mh GROUP BY 1, 2, 3),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
        |           AND x.lang = y.lang AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        |          FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
        |                      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        |          GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN sizes sa ON sa.doc_id = doc_a
        |          JOIN sizes sb ON sb.doc_id = doc_b
        |          WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.6),
        |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |        UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM sym
        |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |lbl AS (SELECT a AS node, least(a, MIN(b)) AS label FROM reach GROUP BY a)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS stage_id, 'input' AS stage,
        |         (SELECT COUNT(*) FROM base) AS n
        |  UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM qual)
        |  UNION ALL SELECT 3, 'lang', (SELECT COUNT(*) FROM langk)
        |  UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM ex)
        |  UNION ALL SELECT 5, 'near_dedup',
        |    (SELECT COUNT(*) FROM ex) -
        |    (SELECT COUNT(*) FROM lbl WHERE label <> node)
        |) ORDER BY stage_id""".stripMargin
    ),

    // --------------------------------------------------------------- q108
    // Referential-integrity audit: per foreign-key edge of the star
    // schema, the orphan count (children whose parent key is missing —
    // broken joins waiting to happen) and the childless count (parents no
    // child references — the "dead dimension rows" a pruning pass can
    // drop). Each direction is one ANTI join aggregated to a single long
    // — anti joins broadcast the smaller side and never materialize the
    // match; the four 1-row crossJoins just glue the per-edge scalars
    // into the report frame. At 100 TB this is THE pre-flight check
    // before any fact-dimension pipeline runs.
    "q108_fk_audit" -> QDef(
      (s, d) => {
        def edge(rel: String, child: org.apache.spark.sql.DataFrame, ck: String,
                 parent: org.apache.spark.sql.DataFrame, pk: String) = {
          val orphans = child.join(parent, col(ck) === col(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          val childless = parent.join(child, col(pk) === col(ck), "left_anti")
            .agg(count(lit(1)).as("n_childless"))
          orphans.crossJoin(childless).select(
            lit(rel).as("rel"), col("n_orphans"), col("n_childless"))
        }
        edge("customer->nation", customer(s, d), "c_nationkey",
            nation(s, d), "n_nationkey")
          .unionByName(edge("lineitem->orders", lineitem(s, d), "l_orderkey",
            orders(s, d), "o_orderkey"))
          .unionByName(edge("lineitem->part", lineitem(s, d), "l_partkey",
            part(s, d), "p_partkey"))
          .unionByName(edge("orders->customer", orders(s, d), "o_custkey",
            customer(s, d), "c_custkey"))
          .orderBy("rel")
      },
      """SELECT * FROM (
        |  SELECT 'customer->nation' AS rel,
        |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans,
        |    (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)) AS n_childless
        |  UNION ALL SELECT 'lineitem->orders',
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        |  UNION ALL SELECT 'lineitem->part',
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
        |    (SELECT COUNT(*) FROM part p WHERE NOT EXISTS
        |      (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
        |  UNION ALL SELECT 'orders->customer',
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |) ORDER BY rel""".stripMargin
    )
  )
}
