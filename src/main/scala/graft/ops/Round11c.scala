package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Round-11 batch 3: two missing operator families.
  *
  *  - q223 edit-distance join with pigeonhole blocking: the entity-
  *    resolution primitive q97's token-Jaccard linkage cannot express
  *    (character-level typos). Candidates come from a 3-segment
  *    pigeonhole (≤2 substitutions touch ≤2 of 3 segments ⇒ one segment
  *    matches exactly), verified by the codegen'd `levenshtein`. The
  *    ORACLE is deliberately the brute-force O(carve²) form — an
  *    INDEPENDENT completeness check of the blocking: if the pigeonhole
  *    ever missed a pair the hash would split.
  *  - q224 deterministic negative sampling: contrastive-training triplet
  *    generation — (anchor, positive) from the exact-dup clusters, k=3
  *    negatives per positive drawn by portable hash arithmetic. Sampling
  *    by hash (not rand()) is what makes training data reproducible
  *    under retries/repartitioning — the q69/q139 discipline applied to
  *    pair mining.
  */
object Round11c {
  import Tables._

  /** q225's edge build over distinct (user_id, hb, event_type) activity:
    * distinct (u, v) user pairs, u < v, sharing an (hb, event_type) cell,
    * with each cell capped at its 16 lowest-ranked members (rank = the
    * portable md5 of (user, cell), user_id tie-break). Capped, the edge
    * table is ≤ C(16,2)·cells — linear in the cell count. */
  private[graft] def cappedEdges(ev: DataFrame): DataFrame = {
    val capped = ev.withColumn("rk", row_number().over(
        Window.partitionBy("hb", "event_type").orderBy(
          md5(concat_ws("#", col("user_id"), col("hb"), col("event_type"))),
          col("user_id"))))
      .where(col("rk") <= 16).drop("rk")
    capped.as("a").join(capped.as("b"),
        col("a.hb") === col("b.hb") &&
          col("a.event_type") === col("b.event_type") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()
  }

  val defs: Vector[(String, QDef)] = Vector(

    // --------------------------------------------------------------- q223
    // Edit-distance join via PassJoin blocking (Li et al., the
    // partition-signature scheme). PassJoin is complete for edit
    // distance: if lev(x, y) ≤ d and y is cut into d+1 segments, some
    // segment of y is untouched by every edit and appears in x at a start
    // offset within ±d — the INDEX side keeps the 3 aligned 6-char
    // segments, the PROBE side explodes each string's 6-char substrings
    // at start offsets within ±2 (window-clamped), joined on
    // (seg_idx, content).
    //
    // Round-12 basis rework: the round-11 customer-NAME basis made 2 of 3
    // segments corpus-CONSTANT ('Customer#000…'), so the candidate join
    // degenerated toward all-pairs × the probe fanout — 59.7 s at bench
    // scale with the blocking pruning nothing (the ADVICE-flagged
    // degeneracy, measured). The corpus is now 18-hex-char portable-md5
    // strings derived from c_custkey (the q224 md5-parity discipline) with
    // PLANTED twins both engines replay value-visibly (the q230 plant):
    // ck%10=7 → one substitution ('z' ∉ hex, lev 1); ck%10=3 → a
    // delete-at-p + append SHIFT twin ('q' ∉ hex, lev 2) — the edit
    // pattern position-aligned blocking provably misses (Round11Spec locks
    // the miss; the probe's ±offsets absorb it). On this high-entropy
    // basis the blocking actually prunes: candidates ≈ planted collisions
    // (hex 6-grams collide with probability 16^-6), never all-pairs.
    // Scale shape: 3× index explode + ≤11× clamped probe explode + one
    // (seg_idx, seg) equi-join producing IDS ONLY + distinct + name
    // rejoin by id (the q46 signature discipline) + codegen'd levenshtein
    // verify. The brute O(carve²) oracle is the independent completeness
    // proof. Length-CHANGING edits are the deletion-neighborhood variant,
    // declared as q230.
    "q223_editdist_join" -> QDef(
      (s, d) => {
        val base = customer(s, d).where(col("c_custkey") < 2000)
          .select(col("c_custkey").as("ck"),
            substring(md5(col("c_custkey").cast("string")), 1, 18).as("nm"))
        val subst = base.where(col("ck") % 10 === 7)
          .select((col("ck") + 100000L).as("ck"),
            expr("concat(substring(nm, 1, CAST(ck % 13 + 2 AS INT)), 'z', " +
              "substring(nm, CAST(ck % 13 + 4 AS INT)))").as("nm"))
        val shift = base.where(col("ck") % 10 === 3)
          .select((col("ck") + 100000L).as("ck"),
            expr("concat(substring(nm, 1, CAST(ck % 11 + 2 AS INT)), " +
              "substring(nm, CAST(ck % 11 + 4 AS INT)), 'q')").as("nm"))
        // checkpointed: consumed by idx, prb, and both name rejoins
        val all = base.unionAll(subst).unionAll(shift).localCheckpoint()
        val idx = all.select(col("ck"),
            posexplode(array(substring(col("nm"), 1, 6),
              substring(col("nm"), 7, 6), substring(col("nm"), 13, 6))))
          .withColumnsRenamed(Map("pos" -> "seg_idx", "col" -> "seg"))
        val prb = all.select(col("ck"), col("nm"),
            explode(expr("""filter(flatten(transform(sequence(0, 2), i ->
              transform(sequence(-2, 2), o ->
                struct(i AS seg_idx, 1 + 6*i + o AS st)))),
              p -> p.st >= 1 AND p.st <= 13)""")).as("p"))
          .select(col("ck"), col("p.seg_idx").as("seg_idx"),
            expr("substring(nm, p.st, 6)").as("seg"))
        val cand = prb.as("x").join(idx.as("y"),
            col("x.seg_idx") === col("y.seg_idx") &&
              col("x.seg") === col("y.seg") && col("x.ck") =!= col("y.ck"))
          .select(least(col("x.ck"), col("y.ck")).as("ck_a"),
            greatest(col("x.ck"), col("y.ck")).as("ck_b"))
          .distinct()
        cand
          .join(all.select(col("ck").as("ck_a"), col("nm").as("nm_a")), "ck_a")
          .join(all.select(col("ck").as("ck_b"), col("nm").as("nm_b")), "ck_b")
          .withColumn("lev", levenshtein(col("nm_a"), col("nm_b")))
          .where(col("lev") <= 2)
          .select(col("ck_a"), col("ck_b"), col("lev").cast("long").as("lev"))
          .orderBy("ck_a", "ck_b")
      },
      """WITH base AS (
        |  SELECT c_custkey AS ck,
        |         substring(md5(CAST(c_custkey AS VARCHAR)), 1, 18) AS nm
        |  FROM customer WHERE c_custkey < 2000),
        |subst AS (
        |  SELECT ck + 100000 AS ck,
        |         substring(nm, 1, CAST(ck % 13 + 2 AS INT)) || 'z' ||
        |           substring(nm, CAST(ck % 13 + 4 AS INT)) AS nm
        |  FROM base WHERE ck % 10 = 7),
        |shift AS (
        |  SELECT ck + 100000 AS ck,
        |         substring(nm, 1, CAST(ck % 11 + 2 AS INT)) ||
        |           substring(nm, CAST(ck % 11 + 4 AS INT)) || 'q' AS nm
        |  FROM base WHERE ck % 10 = 3),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM subst
        |         UNION ALL SELECT * FROM shift)
        |SELECT a.ck AS ck_a, b.ck AS ck_b,
        |       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev
        |FROM allr a JOIN allr b ON a.ck < b.ck
        |WHERE levenshtein(a.nm, b.nm) <= 2
        |ORDER BY ck_a, ck_b""".stripMargin
    ),

    // --------------------------------------------------------------- q224
    // Scale shape: positives come from the q221 simhash spanning stage
    // (the corpus has NO exact-dup texts — CLAUDE.md's adversarial-corpus
    // note — so contrastive positives are the near-dup pairs, carved 1/7
    // by anchor, q73's style); the negative draw is a map-side ×3 explode
    // + portable-md5 arithmetic against a 1-row broadcast max; the only
    // data join is the validating equi-join against the doc table keyed
    // by neg_id. Hash draws make the triplet set a pure function of the
    // corpus — stable under retries, partitioning, and engine (the
    // oracle replays the draw). Self/positive collisions are dropped
    // rather than re-probed (≤ k negatives per positive — the standard
    // contrastive-sampling trade; re-probing needs a loop for a
    // vanishing case).
    "q224_negative_sampling" -> QDef(
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("lang"))
        val pos = Round11b.spanningPairs(s, d)
          .where(col("doc_a") % 7 === 0)
          .select(col("doc_a").as("anchor"), col("doc_b").as("pos_id"))
        val mx = docs.agg(max("doc_id").as("mx"))
        val trip = pos.crossJoin(broadcast(mx))
          .select(col("anchor"), col("pos_id"), col("mx"),
            explode(expr("sequence(0, 2)")).as("i"))
          .withColumn("neg_id",
            conv(substring(md5(concat_ws("#", col("anchor"), col("pos_id"),
              col("i"))), 1, 15), 16, 10).cast("long") % (col("mx") + 1))
          .where(col("neg_id") =!= col("anchor") && col("neg_id") =!= col("pos_id"))
        trip.join(docs.select(col("doc_id").as("neg_id"),
            col("lang").as("neg_lang")), "neg_id")
          .select(col("anchor"), col("pos_id"), col("i"), col("neg_id"),
            col("neg_lang"))
          .orderBy("anchor", "pos_id", "i", "neg_id")
      },
      s"""WITH ${Round11b.oracleSpanningPairs},
         |pos AS (SELECT doc_a AS anchor, doc_b AS pos_id FROM pairs
         |        WHERE doc_a % 7 = 0),
         |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
         |trip AS (
         |  SELECT anchor, pos_id, CAST(ii.i AS INTEGER) AS i,
         |         CAST(('0x' || substring(md5(anchor || '#' || pos_id || '#' || ii.i),
         |           1, 15)) AS BIGINT) % (mx.mx + 1) AS neg_id
         |  FROM pos CROSS JOIN mx
         |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) ii)
         |SELECT t.anchor, t.pos_id, t.i, t.neg_id, d.lang AS neg_lang
         |FROM trip t JOIN documents d ON d.doc_id = t.neg_id
         |WHERE t.neg_id <> t.anchor AND t.neg_id <> t.pos_id
         |ORDER BY anchor, pos_id, i, neg_id""".stripMargin
    ),

    // --------------------------------------------------------------- q225
    // k-core peeling (k=3, 3 BOUNDED rounds) over the user co-occurrence
    // graph (edge iff two users share ≥1 (event_type, hour) of activity) —
    // the graph-decomposition surface between q119's one-shot degree
    // histogram and q66's full transitive closure: cores are the standard
    // dense-community prefilter (spam rings, coordinated accounts).
    // Deterministic by construction: peeling has no tie-breaks (a node is
    // removed iff its CURRENT degree < k), and the round count is pinned
    // (q66's bounded-iteration discipline) so both engines unroll the
    // same 3 steps; convergence at round 3 is data-dependent and NOT
    // asserted — the declared result is "the round-3 survivor set", which
    // is exact under replay either way. Scale shape: the edge build is
    // one (hb, type) equi-join off a distinct projection, with cell
    // membership CAPPED at 16 users per (hour, event_type) cell (round-12
    // fix, VERDICT round 11: uncapped, the self-join emits Θ(cell²) pairs
    // per cell and cell population grows ~linearly with corpus density —
    // the one quadratic term this query had; q95's cells are bounded
    // per-user, these span all users active in an hour). The cap is
    // deterministic and VALUE-VISIBLE — rank by the portable md5 of
    // (user, cell), user_id tie-break — so both engines carve the same
    // members and the oracle replays it; capped, the edge table is
    // ≤ C(16,2)·cells — linear in cell count (ScaleCurve kcore regime
    // measures the bend, SCALE.md §12). Each peel round is one degree
    // aggregate + two node-keyed joins on an edge table that only
    // SHRINKS; the 3-round ladder costs 3 × (agg + join) barriers
    // regardless of volume.
    "q225_kcore" -> QDef(
      (s, d) => {
        val k = 3
        val pairs = cappedEdges(events(s, d).select(col("user_id"),
            expr("unix_micros(ts) DIV 3600000000").as("hb"), col("event_type"))
          .distinct())
        var e = pairs.select(col("u").as("x"), col("v").as("y"))
          .unionAll(pairs.select(col("v").as("x"), col("u").as("y")))
          .localCheckpoint() // feeds all 3 peeling rounds
        for (_ <- 1 to 3) {
          val keep = e.groupBy("x").agg(count(lit(1)).as("dx"))
            .where(col("dx") >= k).select(col("x").as("kn"))
          // per-round checkpoint (the Dedup.dupClusters discipline): each
          // round references e twice (degree agg + join-back), so an
          // un-checkpointed round replays the whole prior ladder per
          // reference — measured 4.2 s warm without, at bench scale.
          // r16 opt: both endpoint filters are LEFT SEMI joins against the
          // IDENTICAL keep subplan (no renamed projection on the build
          // side), so the two broadcast builds canonicalize equal and
          // ReuseExchange collapses them — the degree aggregate ran TWICE
          // per round before (measured: 2 × ~0.14 s build jobs per round,
          // job trace), now once.
          e = e.join(keep.as("ka"), col("x") === col("ka.kn"), "left_semi")
            .join(keep.as("kb"), col("y") === col("kb.kn"), "left_semi")
            .localCheckpoint()
        }
        e.groupBy("x").agg(count(lit(1)).as("core_deg"))
          .select(col("x").as("user_id"), col("core_deg"))
          .orderBy("user_id")
      },
      """WITH ev0 AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hb,
        |                             event_type FROM events),
        |ev AS (SELECT user_id, hb, event_type FROM (
        |         SELECT user_id, hb, event_type,
        |                row_number() OVER (PARTITION BY hb, event_type
        |                  ORDER BY md5(user_id || '#' || hb || '#' || event_type),
        |                           user_id) AS rk
        |         FROM ev0) z WHERE rk <= 16),
        |pairs AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |          FROM ev a JOIN ev b ON a.hb = b.hb
        |           AND a.event_type = b.event_type AND a.user_id < b.user_id),
        |e0 AS (SELECT u AS x, v AS y FROM pairs
        |       UNION ALL SELECT v, u FROM pairs),
        |k1 AS (SELECT x FROM e0 GROUP BY x HAVING COUNT(*) >= 3),
        |e1 AS (SELECT e.x, e.y FROM e0 e JOIN k1 a ON e.x = a.x
        |       JOIN k1 b ON e.y = b.x),
        |k2 AS (SELECT x FROM e1 GROUP BY x HAVING COUNT(*) >= 3),
        |e2 AS (SELECT e.x, e.y FROM e1 e JOIN k2 a ON e.x = a.x
        |       JOIN k2 b ON e.y = b.x),
        |k3 AS (SELECT x FROM e2 GROUP BY x HAVING COUNT(*) >= 3),
        |e3 AS (SELECT e.x, e.y FROM e2 e JOIN k3 a ON e.x = a.x
        |       JOIN k3 b ON e.y = b.x)
        |SELECT x AS user_id, COUNT(*) AS core_deg
        |FROM e3 GROUP BY x ORDER BY user_id""".stripMargin
    ),

    // --------------------------------------------------------------- q226
    // Multi-PROBE LSH — the memory-free recall fix complementing q220's
    // multi-TABLE form: each query probes its own bucket PLUS the bucket
    // at Hamming distance 1 on its lowest-|margin| hyperplane (the sign
    // decision nearest the boundary is the likeliest to have split true
    // neighbors). Same q52 3-bit table and integer hyperplane family;
    // candidate volume 2·Q·N/2^bits with ZERO extra index memory —
    // multi-table pays L× storage for its recall, multi-probe pays probe
    // count only. Margins are the same bit-identical double folds both
    // engines compute (the float-fold determinism rule); argmin ties
    // break on the lowest hyperplane index.
    "q226_lsh_multiprobe" -> QDef(
      (s, d) => {
        val dots = (0 until 3).map(j => DotProduct.dot(col("e"), SignHash.hyperplane(j)))
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("bucket", SignHash.fold(dots))
          .withColumn("n2", DotProduct.norm2(col("e")))
        val m = dots.map(abs)
        val jmin = when(m(0) <= m(1) && m(0) <= m(2), 0)
          .when(m(1) <= m(2), 1).otherwise(2)
        val pw = when(jmin === 0, 1L).when(jmin === 1, 2L).otherwise(4L)
        val qp = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn"),
            posexplode(array(col("bucket"), col("bucket").bitwiseXOR(pw))))
          .withColumnsRenamed(Map("pos" -> "probe", "col" -> "bucket"))
        emb.join(broadcast(qp), Seq("bucket"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos_sim",
            DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"), col("probe"),
            col("cos_sim"), col("rnk").cast("int").as("rnk"))
          .orderBy("qid", "rnk")
      }, {
        def dotSql(j: Int): String =
          s"""list_aggregate(list_transform(list_zip(e,
             |     list_transform(range(0, 64), k -> CAST(($j*64+k)*2654435761 % 97 - 48 AS DOUBLE))),
             |     z -> z[1]*z[2]), 'sum')""".stripMargin
        s"""WITH emb AS (
           |  SELECT vec_id, e,
           |    list_aggregate(list_transform(e, z -> z*z), 'sum') AS n2,
           |    ${(0 until 3).map(j => s"(CASE WHEN ${dotSql(j)} > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS bucket,
           |    ${(0 until 3).map(j => s"abs(${dotSql(j)}) AS m$j").mkString(",\n    ")}
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b),
           |q AS (
           |  SELECT vec_id AS qid, e AS qe, n2 AS qn, bucket,
           |         CASE WHEN m0 <= m1 AND m0 <= m2 THEN 1
           |              WHEN m1 <= m2 THEN 2 ELSE 4 END AS pw
           |  FROM emb WHERE vec_id < 10),
           |qp AS (
           |  SELECT qid, qe, qn, CAST(pp.probe AS INTEGER) AS probe,
           |         CASE pp.probe WHEN 0 THEN bucket ELSE xor(bucket, pw) END AS bucket
           |  FROM q CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS probe) pp),
           |ranked AS (
           |  SELECT qp.qid, emb.vec_id AS vid, qp.probe,
           |    list_aggregate(list_transform(list_zip(qp.qe, emb.e), z -> z[1]*z[2]), 'sum')
           |      / sqrt(qp.qn * emb.n2) AS cos_sim
           |  FROM emb JOIN qp ON emb.bucket = qp.bucket AND emb.vec_id <> qp.qid)
           |SELECT qid, vid, probe, cos_sim,
           |       CAST(row_number() OVER (PARTITION BY qid
           |         ORDER BY cos_sim DESC, vid) AS INT) AS rnk
           |FROM ranked QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
      }
    ),

    // --------------------------------------------------------------- q227
    // FILTERED vector search — the enterprise ANN workload (top-k among
    // vectors satisfying a metadata predicate): q62's IVF with the filter
    // applied to the INDEX side before the per-list ranking. This is
    // pre-filtering: the predicate prunes list members before any
    // distance math, so per-query work is nprobe/nlist · selectivity of
    // the corpus — post-filtering (rank first, filter the top-k) would
    // under-fill k whenever the filter is selective. The vec_id % 3
    // predicate stands in for a metadata column; at 100 TB the filter is
    // a pushed-down parquet predicate on the index table and the IVF
    // shapes are unchanged. nprobe == nlist keeps the declared query
    // provably exact ⇒ the oracle is brute force under the same
    // predicate (the q62 trick).
    "q227_filtered_ann" -> QDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val (index, centroids) =
          graft.ops.Ann.ivfIndex(emb.select(col("vec_id"), col("embedding")), nlist = 16)
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        graft.ops.Ann.ivfTopKLargeQ(
            index.where(col("vec_id") % 3 === 0), centroids, queries,
            k = 5, nprobe = 16)
          .select(col("qid"), col("vec_id").as("vid"), col("cos_sim"), col("rnk"))
          .orderBy("qid", "rnk")
      },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |a AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ve
        |      FROM embeddings WHERE vec_id % 3 = 0),
        |p AS (SELECT qid, vid,
        |        list_aggregate(list_transform(list_zip(qe, ve), x -> x[1]*x[2]), 'sum')
        |          / sqrt(list_aggregate(list_transform(qe, x -> x*x), 'sum')
        |                 * list_aggregate(list_transform(ve, x -> x*x), 'sum')) AS cos_sim
        |      FROM q, a WHERE vid <> qid),
        |r AS (SELECT qid, vid, cos_sim,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS INT) AS rnk
        |      FROM p)
        |SELECT qid, vid, cos_sim, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
    )
  )
}
