package graft.ops

import graft.{Det, QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-9 second wave: statistical drift testing (exact two-sample KS via
  * the distributed prefix-scan), language-model quality scoring (unigram
  * NLL — the perplexity screen of a pretraining curation pipeline), a
  * partition-layout balance audit (range vs hash bucketing), and the
  * classic sorted-neighborhood near-dup method (Hernández & Stolfo 1995)
  * that complements the LSH/SimHash/PPJoin family with the sort-based
  * blocking approach.
  *
  * Reference provenance: N/A (empty checkout, SURVEY.md §0).
  *
  * Determinism contract (CLAUDE.md): money/value doubles enter exact
  * DECIMAL space before arithmetic; ln outputs are rounded per-row
  * (transcendental — the q70 discipline) then summed as exact DECIMAL
  * (order-free); every division emitted is a raw IEEE quotient of
  * identically-derived operands; all output orders are total.
  */
object Round9b {
  import Tables._

  private val P = 104729L // house prime (q46/q56/q63 hash family)

  /** q137's sorted-neighborhood core at block prefix `width` over
    * (doc_id, lang, text): each doc is compared with its next two
    * neighbours in (text, doc_id) order within its (lang, prefix) block;
    * returns the (lang, doc_a, doc_b, jaccard) pairs with token-Jaccard
    * ≥ 0.6. The declared query passes the oracle-tied 8. */
  private[graft] def snmPairs(docs: DataFrame, width: Int): DataFrame = {
    val t = docs.select(
      col("doc_id"), col("lang"), col("text"),
      substring(col("text"), 1, width).as("blk"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val win = Window.partitionBy("lang", "blk").orderBy("text", "doc_id")
    val w = t.select(col("lang"), col("doc_id"), col("toks"),
      lead("doc_id", 1).over(win).as("id1"), lead("toks", 1).over(win).as("tk1"),
      lead("doc_id", 2).over(win).as("id2"), lead("toks", 2).over(win).as("tk2"))
    val p = w.where(col("id1").isNotNull)
      .select(col("lang"), col("doc_id").as("doc_a"), col("id1").as("doc_b"),
        col("toks").as("ta"), col("tk1").as("tb"))
      .unionAll(w.where(col("id2").isNotNull)
        .select(col("lang"), col("doc_id").as("doc_a"), col("id2").as("doc_b"),
          col("toks").as("ta"), col("tk2").as("tb")))
    p.select(col("lang"), col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("nc"),
        size(col("ta")).cast("long").as("sza"),
        size(col("tb")).cast("long").as("szb"))
      .withColumn("jaccard", col("nc") / (col("sza") + col("szb") - col("nc")))
      .where(col("jaccard") >= 0.6)
      .select("lang", "doc_a", "doc_b", "jaccard")
  }

  /** The production block width for [[snmPairs]] (8 is the declared
    * query's oracle-tied test-scale pin): widen the prefix in steps of 4
    * chars until the p99 block holds ≤ 64 docs. Each probe costs one
    * count rollup and a 1-row percentile, O(scan), a handful of probes;
    * the bounded block population keeps the per-block sort (SNM's only
    * super-linear term) a constant-size task at any corpus size. */
  private[graft] def snmWidth(docs: DataFrame): Int =
    Iterator.iterate(8)(_ + 4).take(15).find { w =>
      docs.groupBy(col("lang"), substring(col("text"), 1, w))
        .count()
        .agg(expr("percentile_approx(count, 0.99, 10000)"))
        .head().getLong(0) <= 64L
    }.getOrElse(64)

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q134
    // Unigram-LM negative log-likelihood per document — the "perplexity
    // filter" of a pretraining data pipeline (score each doc against a
    // language model of the corpus; outliers are boilerplate/noise). The
    // LM is add-one-smoothed per-language unigram counts: p(tok|lang) =
    // (cnt+1)/(tot+V). Exact integer counts everywhere; -ln(p) is rounded
    // per-row to 4 decimals (the transcendental discipline) and becomes a
    // DECIMAL(18,4), so the per-doc sum is EXACT and order-free; avg is
    // decimal-sum→double ÷ count, raw. Scale shape: the LM table is
    // vocab-sized (V·langs rows — broadcast at any corpus size), the
    // token explode is map-local, and the only data-sized shuffle is the
    // per-doc rollup — map-side-combinable. No window, no all-pairs.
    "q134_unigram_nll" -> QDef(
      (s, d) => {
        // One explode, consumed once: the (doc, tok) multiplicity table
        // feeds BOTH the LM counts and the per-doc scoring (k·tok_nll is
        // exactly k repeated decimal additions), so the corpus is scanned
        // and exploded a single time instead of once per consumer.
        val docTok = documents(s, d).select(
            col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("k"))
        val stats = docTok.groupBy("lang", "tok").agg(sum("k").as("cnt"))
        val tot = stats.groupBy("lang").agg(sum("cnt").as("tot"))
        val vocab = stats.agg(countDistinct("tok").as("v"))
        val nll = stats.join(broadcast(tot), "lang").crossJoin(broadcast(vocab))
          .select(col("lang"), col("tok"),
            round(negate(log((col("cnt") + 1).cast("double") /
              (col("tot") + col("v")).cast("double"))), 4)
              .cast(Det.D).as("tok_nll"))
        docTok.join(broadcast(nll), Seq("lang", "tok"))
          .groupBy("doc_id", "lang")
          .agg(
            sum("k").as("n_tokens"),
            round(sum(col("k") * col("tok_nll")), 4).cast("double").as("sum_nll"))
          .withColumn("avg_nll", col("sum_nll") / col("n_tokens"))
          .orderBy("doc_id")
      },
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |stats AS (SELECT lang, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(cnt) AS tot FROM stats GROUP BY 1),
        |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
        |nll AS (SELECT s.lang, s.tok,
        |               CAST(ROUND(-ln(CAST(s.cnt + 1 AS DOUBLE) /
        |                               CAST(t.tot + vocab.v AS DOUBLE)), 4)
        |                    AS DECIMAL(18,4)) AS tok_nll
        |        FROM stats s JOIN tot t ON s.lang = t.lang CROSS JOIN vocab)
        |SELECT tk.doc_id, tk.lang, COUNT(*) AS n_tokens,
        |       CAST(ROUND(SUM(n.tok_nll), 4) AS DOUBLE) AS sum_nll,
        |       CAST(ROUND(SUM(n.tok_nll), 4) AS DOUBLE) / COUNT(*) AS avg_nll
        |FROM tok tk JOIN nll n ON tk.lang = n.lang AND tk.tok = n.tok
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
    ),

    // --------------------------------------------------------------- q135
    // Exact two-sample Kolmogorov–Smirnov drift test: split the event
    // stream at the midpoint of its time range and compare the `value`
    // distributions of the two halves — the distribution-drift gate a
    // data pipeline runs before accepting a new ingest batch (the exact
    // counterpart of q92's sketched drift). The empirical CDFs are exact
    // integer cumulative counts over the value order; the D statistic is
    // |F1−F2| with both F raw IEEE quotients of exact integers. The
    // cumulative counts come from Scan.runningSumByRange (values are
    // bucketed by their integer cent value — pure arithmetic, bounded
    // domain [0, 49100)), so there is NO data-sized global window: the
    // only single-partition frame is the P-row bucket-carry table
    // (whitelisted in PlanAudit with that justification). Output is the
    // per-decile max divergence — the "where does the distribution move"
    // profile, whose max row is the global KS statistic.
    "q135_ks_drift" -> QDef(
      (s, d) => {
        val ev = events(s, d).select(
          unix_micros(col("ts")).as("us"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v"))
        val b = ev.agg(min("us").as("mn"), max("us").as("mx"))
        val sided = ev.crossJoin(broadcast(b))
          .select(col("v"),
            when(col("us") * 2 < col("mn") + col("mx"), 1L).otherwise(0L).as("early"))
        val byv = sided.groupBy("v")
          .agg(sum("early").as("ca"), sum(lit(1) - col("early")).as("cb"))
        val tots = byv.agg(sum("ca").as("na"), sum("cb").as("nb"))
        val cum = Scan.runningSumsByRange(byv, col("v"), col("v"),
          Seq(col("ca") -> "cax", col("cb") -> "cbx"), lo = 0L, hi = 49100L)
        val dd = cum.crossJoin(broadcast(tots))
          .select(col("v"),
            abs((col("cax") + col("ca")).cast("double") / col("na").cast("double")
              - (col("cbx") + col("cb")).cast("double") / col("nb").cast("double")).as("d"))
          .withColumn("decile", expr("v DIV 5000"))
        val w = Window.partitionBy("decile").orderBy(col("d").desc, col("v"))
        dd.withColumn("rn", row_number().over(w))
          .withColumn("n_vals", count(lit(1)).over(Window.partitionBy("decile")))
          .where(col("rn") === 1)
          .select(col("decile"), col("n_vals"), col("v").as("at_cents"), col("d").as("max_d"))
          .orderBy("decile")
      },
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        |e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |             CASE WHEN 2 * epoch_us(ts) < b.mn + b.mx THEN 1 ELSE 0 END AS early
        |      FROM events, b),
        |byv AS (SELECT v, SUM(early) AS ca, SUM(1 - early) AS cb FROM e GROUP BY 1),
        |tots AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM byv),
        |cum AS (SELECT v, ca, cb, SUM(ca) OVER w AS cai, SUM(cb) OVER w AS cbi
        |        FROM byv WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT v, abs(CAST(cai AS DOUBLE) / CAST(na AS DOUBLE)
        |                  - CAST(cbi AS DOUBLE) / CAST(nb AS DOUBLE)) AS d
        |      FROM cum, tots),
        |r AS (SELECT v // 5000 AS decile, v, d,
        |             ROW_NUMBER() OVER (PARTITION BY v // 5000 ORDER BY d DESC, v) AS rn,
        |             COUNT(*) OVER (PARTITION BY v // 5000) AS n_vals
        |      FROM d)
        |SELECT decile, n_vals, v AS at_cents, d AS max_d
        |FROM r WHERE rn = 1 ORDER BY decile""".stripMargin
    ),

    // --------------------------------------------------------------- q136
    // Partition-layout balance audit: assign every key to (a) a balanced
    // fixed-width RANGE partition of the key space and (b) a HASH bucket
    // (the house multiplicative family), then report per-partition row
    // counts, key counts, and the skew ratio (n_rows·k / total — 1.0 is
    // perfect balance). This is the decision input for choosing a table's
    // layout (range-partitioned scans prune; hash-partitioned joins
    // balance) — the q128 z-order audit's sibling for 1-D layouts. Scale
    // shape: one map-side-combinable per-key pre-aggregate (the key
    // domain table), then a k·2-row rollup of that tiny table — the data
    // is touched exactly once, min/max/total ride a 1-row broadcast.
    "q136_partition_balance" -> QDef(
      (s, d) => {
        val base = events(s, d).groupBy("user_id").agg(count(lit(1)).as("nr"))
        val b = base.agg(
          min("user_id").as("mn"), max("user_id").as("mx"), sum("nr").as("n"))
        val wb = base.crossJoin(broadcast(b))
          .withColumn("w", expr("(mx - mn + 16) DIV 16"))
        val rng = wb.select(lit("range").as("scheme"),
          expr("(user_id - mn) DIV w").as("bucket"), col("nr"), col("n"))
        val hsh = wb.select(lit("hash").as("scheme"),
          (col("user_id") * 7919 % P % 16).as("bucket"), col("nr"), col("n"))
        rng.unionAll(hsh)
          .groupBy("scheme", "bucket")
          .agg(sum("nr").as("n_rows"), count(lit(1)).as("n_keys"),
            max("n").as("tot"))
          .select(col("scheme"), col("bucket"), col("n_rows"), col("n_keys"),
            ((col("n_rows") * 16).cast("double") / col("tot").cast("double")).as("skew"))
          .orderBy("scheme", "bucket")
      },
      s"""WITH base AS (SELECT user_id, COUNT(*) AS nr FROM events GROUP BY 1),
         |b AS (SELECT min(user_id) AS mn, max(user_id) AS mx,
         |             CAST(SUM(nr) AS BIGINT) AS n FROM base),
         |wb AS (SELECT user_id, nr, n, mn, (mx - mn + 16) // 16 AS w FROM base, b),
         |u AS (SELECT 'range' AS scheme, (user_id - mn) // w AS bucket, nr, n FROM wb
         |      UNION ALL
         |      SELECT 'hash' AS scheme, user_id * 7919 % $P % 16 AS bucket, nr, n FROM wb)
         |SELECT scheme, bucket, CAST(SUM(nr) AS BIGINT) AS n_rows,
         |       COUNT(*) AS n_keys,
         |       CAST(CAST(SUM(nr) AS BIGINT) * 16 AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS skew
         |FROM u GROUP BY 1, 2 ORDER BY scheme, bucket""".stripMargin
    ),

    // --------------------------------------------------------------- q137
    // Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995):
    // sort each language's documents by text, compare each doc only to
    // its next-2 neighbors in sort order, keep pairs with token-Jaccard
    // ≥ 0.6. The sort-based blocking complement to the hash-based LSH /
    // SimHash / prefix-filter family (q46/q56/q101): candidates come from
    // ORDER, not hashing, so it catches shared-prefix near-dups with zero
    // hash design. Scale shape: the window partitions on (lang, 8-char
    // sort-key prefix) — block granularity is the standard SNM scaling
    // knob (finer prefix → smaller blocks; pairs straddling a block
    // boundary are the method's documented recall loss). O(w·n) pairs,
    // one partitioned window, no all-pairs term anywhere.
    // The prefix LENGTH 8 is a TEST-SCALE CONSTANT (the q151 convention):
    // on this 31-token corpus it yields a handful of blocks whose size
    // grows O(n) with volume. A production deployment derives block width
    // from corpus size (snmWidth: widen the prefix until the p99 block fits
    // a task's memory — each widening multiplies block count by ~|alphabet|)
    // and the DECLARED query pins 8 only so the DuckDB oracle replays
    // byte-identical blocks at every tested SF.
    "q137_sorted_neighborhood" -> QDef(
      (s, d) => snmPairs(documents(s, d), 8).orderBy("lang", "doc_a", "doc_b"),
      """WITH t AS (SELECT doc_id, lang, text, substr(text, 1, 8) AS blk,
        |                  list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |w AS (SELECT lang, doc_id, toks,
        |             lead(doc_id, 1) OVER win AS id1, lead(toks, 1) OVER win AS tk1,
        |             lead(doc_id, 2) OVER win AS id2, lead(toks, 2) OVER win AS tk2
        |      FROM t WINDOW win AS (PARTITION BY lang, blk ORDER BY text, doc_id)),
        |p AS (SELECT lang, doc_id AS doc_a, id1 AS doc_b, toks AS ta, tk1 AS tb
        |      FROM w WHERE id1 IS NOT NULL
        |      UNION ALL
        |      SELECT lang, doc_id, id2, toks, tk2 FROM w WHERE id2 IS NOT NULL),
        |j AS (SELECT lang, doc_a, doc_b,
        |             CAST(length(list_intersect(ta, tb)) AS BIGINT) AS nc,
        |             CAST(length(ta) AS BIGINT) AS sza,
        |             CAST(length(tb) AS BIGINT) AS szb FROM p)
        |SELECT lang, doc_a, doc_b, nc / (sza + szb - nc) AS jaccard
        |FROM j WHERE nc / (sza + szb - nc) >= 0.6
        |ORDER BY lang, doc_a, doc_b""".stripMargin
    )
  )
}
