package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.functions._

/** Round-11 batch 2: CC over a coarse SPANNING set — the adv-regime
  * conclusion of SCALE.md §11 turned into a declared query. On a
  * known-degenerate corpus the true ≥0.6-Jaccard pair set is Θ(n²)
  * (26–38M verified pairs at 20k docs), but dedup wants CLUSTERS, not
  * pairs: connected components only need a spanning subset of each
  * component's edges, and the simhash pigeonhole pieces emit a near-linear
  * one (28.9k pairs at 20k docs where minhash-LSH verifies 26.4M). q221
  * feeds q66's min-label CC directly from the hamming≤3 simhash edges —
  * no Jaccard verify pass at all — and labels every fingerprint-clustered
  * doc with its component minimum.
  *
  * The oracle replays the WHOLE thing in DuckDB: the portable md5-hex
  * simhash (q56's pipeline, unsampled), the pigeonhole candidate join,
  * and a WITH RECURSIVE min-label closure (label(x) = min over x's
  * reachable set) — two independent transitive-closure implementations
  * must agree on every component minimum.
  */
object Round11b {
  import Tables._

  /** The hamming≤3 simhash spanning-edge stage, shared by q221 (CC input)
    * and q224 (contrastive positives): q56's 16-bit pigeonhole pairs over
    * the whole corpus. */
  private[ops] def spanningPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    LlmExt2.simhashPairs(documents(s, d), 16).select("doc_a", "doc_b")

  /** The q221 oracle's candidate-pair chain (portable md5-hex simhash +
    * pigeonhole join), shared with q224's oracle. */
  private[ops] val oracleSpanningPairs =
    """tf AS (SELECT doc_id, lang, tok, COUNT(*) AS cnt FROM
      |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  GROUP BY 1, 2, 3),
      |tid AS (SELECT doc_id, lang, cnt,
      |          CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 104729 AS tid
      |        FROM tf),
      |sims AS (SELECT doc_id, lang,
      |           CAST(SUM(CASE WHEN score > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |         FROM (SELECT doc_id, lang, j,
      |                 SUM(cnt * (2 * (((tid * (2*j+3) + (7*j+1)) % 104729) % 2) - 1)) AS score
      |               FROM tid CROSS JOIN range(0, 16) b(j)
      |               GROUP BY 1, 2, 3) sc
      |         GROUP BY 1, 2),
      |pieces AS (SELECT doc_id, lang, simhash, p AS piece_idx,
      |             (simhash // CAST(pow(2, p * 4) AS BIGINT)) % 16 AS piece
      |           FROM sims CROSS JOIN range(0, 4) pr(p)),
      |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM pieces x JOIN pieces y
      |            ON x.lang = y.lang AND x.piece_idx = y.piece_idx
      |           AND x.piece = y.piece AND x.doc_id < y.doc_id
      |          WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)""".stripMargin

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q221
    // Scale shape: fingerprints are one groupBy over the token explode
    // (q56's statically-unrolled 16-sum aggregation); candidates are a
    // (lang, piece_idx, piece) equi-join of the 4× exploded pieces with
    // the hamming filter BEFORE the distinct; CC is Dedup.dupClusters —
    // O(log diameter) pointer-jumping rounds, each one shuffle keyed by
    // node. Nothing is all-pairs: the spanning set's volume is the
    // pigeonhole collision count (measured near-linear, SCALE.md §11 adv).
    "q221_cc_spanning" -> QDef(
      (s, d) =>
        Dedup.dupClusters(spanningPairs(s, d))
          .select(col("node").as("doc_id"), col("label").as("canonical_id"))
          .orderBy("doc_id"),
      s"""WITH RECURSIVE $oracleSpanningPairs,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |cc(node, lbl) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) n
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON e.src = cc.node)
         |SELECT node AS doc_id, MIN(lbl) AS canonical_id
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin
    )
  )
}
