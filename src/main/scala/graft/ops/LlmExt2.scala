package graft.ops

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{DotProduct, SignHash}

/** Extended training-data-pipeline operators beyond SURVEY.md's original
  * q39–q45: the SCALE PATHS for dedup and similarity search, plus deeper
  * text analysis. All constructions are deterministic integer/sequential-
  * fold math, so each carries a DuckDB oracle like every other declared
  * query (q46–q52 in SURVEY.md §2.2-ext).
  *
  * Scale rationale:
  *  - q46 MinHash+LSH replaces q40's token self-join: candidate generation
  *    becomes an equi-join on (band, signature) — linear shuffle, never
  *    globally quadratic.
  *  - q47 SimHash gives constant-size (16-bit here, 64-bit in production)
  *    fingerprints; near-dup testing is bit_count(xor) on pairs within
  *    blocking buckets.
  *  - q52 random-hyperplane LSH buckets the ANN search: each query probes
  *    one bucket (~N/2^bits candidates) instead of all N vectors.
  */
object LlmExt2 {
  import Tables._

  /** Distinct (doc_id, lang, tok) pairs for all documents. */
  private def docToks(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("tok")
    )

  /** Deterministic token dictionary: tok -> dense id by lexicographic rank,
    * identical to `dense_rank() OVER (ORDER BY tok)` on the distinct tokens
    * (which is what every DuckDB oracle computes) but DISTRIBUTED — the
    * rank is assembled Scan-style instead of sorting the vocabulary on one
    * task:
    *   1. bucket by the first character. Spark compares strings bytewise
    *      on their UTF-8 encoding and UTF-8 preserves codepoint order, so
    *      every bucket is a contiguous range of the global sort order and
    *      buckets sort by their character;
    *   2. rank locally inside each bucket (row_number == dense_rank —
    *      the input is distinct), all buckets in parallel;
    *   3. prefix-sum the per-bucket counts — the only unpartitioned window,
    *      over at most |alphabet| rows — and broadcast the offsets back.
    * MinhashLshSpec locks id-equality with the single-window form and the
    * plan shape. For signature hashing the cheaper production id remains
    * minhashLshPairs' `pmod(xxhash64(tok), P)` pure projection (no distinct,
    * no join); the rank dict is for when ids must be DENSE and SORTED
    * (oracle parity, vocabulary export).
    */
  private[graft] def tokenDict(toks: DataFrame): DataFrame = {
    val distinct = toks.select("tok").distinct()
      .withColumn("__b", substring(col("tok"), 1, 1))
    val wLocal = Window.partitionBy("__b").orderBy("tok")
    val wPrefix = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = distinct.groupBy("__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wPrefix), lit(0L)))
      .select("__b", "__off")
    distinct
      .withColumn("__r", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("__b"))
      .select(col("tok"), (col("__off") + col("__r")).cast("int").as("tid"))
  }

  private[graft] val P = 104729L // prime modulus shared by the hash families

  /** The 16 minhash multipliers: m_i = 69621^(i+1) mod P (Lehmer-style
    * multiplicative chain — 69621 is a classic full-period MINSTD-family
    * multiplier for 2^31−1-class moduli; here it simply generates 16
    * multiplicatively UNRELATED residues, all ≥ 16063). Two rejected
    * families, both measured degenerate at curve scale (ScaleCurve
    * `mhfamily`, SCALE.md):
    *  - (4i+3), rounds 1–14: multipliers ≤ 63 never wrap P on small
    *    dictionary-ranked tids (vocab 31 ⇒ tid ≤ 31), so every h_i picks
    *    the same argmin token and 4×4 banding emitted 74% of carve
    *    all-pairs at sf0.01 — the q223 key-entropy bug class;
    *  - 48271·(i+1), round 15's first cut: wraps fine, but every
    *    multiplier shares the factor 48271, so h_i(id) = (i+1)·y mod P
    *    over the SAME y = 48271·id mod P — the 16 argmins stay
    *    correlated through y's minimum, and on a 66k-vocab corpus the
    *    band join emitted 38.5M candidates at 320k docs where the true
    *    S-curve volume is ~130k (296× inflation, quadratic growth; the
    *    exact-key harness variant isolates chain collisions at only ~74
    *    of those rows — the mass was REAL correlated-band agreement).
    * Powers of one generator have no common factor (gcd(g^a, g^b) mod P
    * is not a thing — each residue is multiplicatively independent as a
    * map), and the measured curve confirms: 130k candidates at 320k
    * real-regime docs, matching the brute S-curve floor. */
  private[graft] val mhMults: IndexedSeq[Long] =
    Iterator.iterate(69621L)(m => m * 69621L % P).take(16).toIndexedSeq

  /** The multiplier list as a DuckDB list literal — every oracle that
    * replays the family interpolates THIS string, so Spark and SQL can
    * never drift (zip it against generate_series(0, 15) with parallel
    * unnest). */
  private[graft] val mhMultsSql: String = mhMults.mkString(", ")

  /** All 16 minhashes of a token-id array, h_i(id) =
    * (m_i·id + 7i+5) mod P with m_i = [[mhMults]], as one per-row
    * projection — O(16·|ids|) work that must run ONCE per row. Its
    * consumer (`bandSigsFromMh`) therefore lives in a SEPARATE
    * projection: HOF lambdas are interpreted with no common-subexpression
    * elimination, so inlining this subtree under the 16 `element_at`
    * references of the band chain re-evaluated the whole minhash family
    * 16× per row (the round-6 q46/q75 2-3× regression). `ids` must
    * itself be a plain attribute for the same reason — the inner
    * `transform(ids, …)` references it 16×. CollapseProject keeps the
    * staged projections apart (non-cheap producer referenced >1).
    * MinhashLshSpec locks per-doc argmin diversity > 1 on dictionary ids
    * (the family-degeneracy regression gate) plus a bit-exact JVM
    * replay. Overflow: m_i < P < 2^17 and ids < P on every caller
    * (dictionary ranks or pmod(xxhash64, P)), so each product < 2^34 —
    * exact int64. The multiplier lookup is element_at on a
    * constant-folded literal array — an O(1) index, safe inside the
    * interpreted lambda. */
  private[graft] def minhashArr(ids: Column): Column = {
    val mults = array(mhMults.map(lit): _*)
    transform(
      sequence(lit(0), lit(15)),
      i => array_min(transform(ids,
        id => (element_at(mults, (i + 1).cast("int")) * id + (lit(7) * i + 5)) % P)))
  }

  /** Band signatures (4 bands × 4 rows, base-131 chaining) from an
    * already-materialized 16-minhash array attribute — see minhashArr for
    * why the two stages must not be fused into one expression. Values are
    * bit-identical to the oracle's posexplode → groupBy → sum replay. */
  private[graft] def bandSigsFromMh(mh: Column): Column = transform(
    sequence(lit(0), lit(3)),
    b => element_at(mh, b * 4 + 1)
      + element_at(mh, b * 4 + 2) * 131L
      + element_at(mh, b * 4 + 3) * 17161L
      + element_at(mh, b * 4 + 4) * 2248091L)

  /** The distinct (doc_a, doc_b, lang, hamming) pairs of `docs` within
    * hamming <= 3 of each other's `bits`-wide SimHash — q56's scale form,
    * also q221/q224's spanning edges (16 bits, the oracle-tied width) and
    * ScaleCurve's at-scale row (48 bits: width is the SimHash resolution
    * knob and must grow with corpus similarity mass).
    *  - Fingerprints: pure-projection md5-hex token hash (portable), ALL
    *    `bits` sign sums packed into one statically-unrolled aggregation
    *    (each j is a literal, so the per-j hash arithmetic constant-folds
    *    at plan time). Checkpointed: the pigeonhole join reads them twice.
    *  - Candidates: the four (bits/4)-bit pigeonhole pieces (any pair
    *    within hamming <= 3 agrees on at least one) in one (lang,
    *    piece_idx, piece) equi-join. The 32-way spread of the probe side:
    *    the piece table is byte-small (AQE broadcasts the build side and
    *    coalesces upstream shuffles to ~1 partition), so without it the
    *    collision-heavy candidate expansion and hamming filter run in one
    *    task (q97 lesson).
    *  - Hamming is a pure function of the pair, so filtering BEFORE the
    *    distinct is value-identical and keeps the distinct's shuffle to
    *    the survivors instead of the full candidate multiset. */
  private[graft] def simhashPairs(docs: DataFrame, bits: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "lang", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tid",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long") % P)
    val signSums = (0 until bits).map { j =>
      sum(col("cnt") *
        (lit(2) * (((col("tid") * (2 * j + 3) + (7 * j + 1)) % P) % 2) - 1)).as(s"s$j")
    }
    val sims = tf.groupBy("doc_id", "lang")
      .agg(signSums.head, signSums.tail: _*)
      .select(col("doc_id"), col("lang"),
        SignHash.fold((0 until bits).map(j => col(s"s$j"))).as("simhash"))
      .localCheckpoint()
    val pw = bits / 4
    val pieces = sims.select(
      col("doc_id"), col("lang"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        p => floor(col("simhash") / pow(lit(2.0), p.cast("double") * pw)).cast("long") % (1 << pw)))
    ).withColumnsRenamed(Map("pos" -> "piece_idx", "col" -> "piece"))
    pieces.repartition(32).as("x")
      .join(pieces.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.piece_idx") === col("y.piece_idx") &&
          col("x.piece") === col("y.piece") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.lang").as("lang"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  /** (doc_id, lang, ids) → one (doc_id, lang, band, sig) row per band, as
    * staged per-row projections (no 16-rows-per-doc exchange — the
    * groupBy-sum form this replaced — and no 16× re-evaluation — the
    * single-expression form this replaced). Shared by q46, q75 and
    * minhashLshPairs. */
  private[graft] def explodeBandSigs(tokIds: DataFrame): DataFrame =
    tokIds
      .withColumn("__mh", minhashArr(col("ids")))
      .select(col("doc_id"), col("lang"), posexplode(bandSigsFromMh(col("__mh"))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))

  /** text → (keep…, band, sig) with the production hashed token ids
    * (pmod(xxhash64(tok), P)) — the streaming-safe signature projection
    * shared by streaming/Demos.s9 and its batch-equivalence test. Pure
    * per-row projections (tokenize, minhash, band-chain — each staged so
    * nothing re-evaluates), so a stream computes it without a shuffle. */
  def withBandSigs(df: DataFrame, keep: Column*): DataFrame =
    df.withColumn("__ids",
        transform(array_distinct(split(col("text"), " ")), t => pmod(xxhash64(t), lit(P))))
      .withColumn("__mh", minhashArr(col("__ids")))
      .select(keep :+ posexplode(bandSigsFromMh(col("__mh"))): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))

  /** PRODUCTION MinHash+LSH near-dup pairs over an arbitrary document set
    * — the scale path the curation pipeline uses (vs q46, which is the
    * ORACLE form: sampled, LIMITed, and tied to the sfDir tables so DuckDB
    * can replay it).
    *
    * Differences from q46, each a 100 TB requirement:
    *  - token ids are `pmod(xxhash64(tok), P)` — a pure projection, no
    *    distinct/shuffle/join at all. q46's rank dictionary is distributed
    *    too (round 4: bucketed dense rank, no single-partition sort) but
    *    still costs a distinct + a join against every token occurrence;
    *    for signatures a hashed id is enough — collisions merely perturb
    *    signatures, and the exact-Jaccard verify keeps emitted pairs
    *    correct regardless.
    *  - no doc_id sampling and no top-N LIMIT: dedup must consider every
    *    document, and capping pairs silently caps dedup coverage
    *    (round-1 ADVICE on TrainingDataPipeline).
    *
    * Input must have (doc_id, lang, text); returns (doc_a, doc_b, jaccard)
    * with doc_a < doc_b and exact-verified jaccard >= threshold.
    *
    * Recall contract (locked by MinhashLshSpec): candidates are generated by
    * 4 bands × 4 rows, so a pair at exact Jaccard s collides with
    * probability 1-(1-s^4)^4 — identical docs (s=1) ALWAYS collide; the
    * exact-Jaccard verify keeps precision at 100% regardless. Emitted pairs
    * are therefore always a SUBSET of the exact >= threshold pairs, with
    * deterministic (hash-driven) recall on a fixed corpus.
    *
    * `materialize = false` skips the localCheckpoints so the whole lineage
    * stays one inspectable plan (used by the plan-shape test); production
    * callers keep the default, which materializes the reused token/signature
    * tables once instead of re-exploding the corpus per branch.
    */
  def minhashLshPairs(
      docs: DataFrame, threshold: Double = 0.6, materialize: Boolean = true,
      portableIds: Boolean = false): DataFrame = {
    def mat(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    // (doc_id, lang, toks): the distinct-token ARRAY, carried whole — it
    // feeds the signature build and both sides of the verify join. The
    // verify compares token STRINGS (array_intersect), never hashed ids:
    // id collisions may perturb signatures (more candidates, which verify
    // filters) but must never perturb the emitted exact Jaccard.
    val base0 = docs.select(
      col("doc_id"), col("lang"),
      array_distinct(split(col("text"), " ")).as("toks"))
    // Materialized only on the hashed path, where it feeds the signature
    // build AND both verify joins; the dict path re-groups into `withIds`
    // (materialized below) and reads base0 just once on the way there.
    lazy val base = mat(base0)
    // `portableIds` swaps the production hashed id for the rank dictionary
    // (q46's id space) so a DuckDB oracle can replay the minhash family —
    // used by the oracle-gated pipeline audit (q78). The dict path pays an
    // explode + dict join + collect_list re-group; the production path is a
    // pure per-row projection — NO shuffle at all before the band join.
    val withIds =
      if (portableIds) {
        // No checkpoint on the exploded token table: both consumers (the
        // dict build and the dict join) live inside the ONE withIds
        // checkpoint job, so materializing it would only add a job's fixed
        // overhead (~0.5 s at bench scale) to re-save rows that are read
        // back exactly once. The explode is recomputed per consumer —
        // cheap, pipelined, and not subject to the HOF re-evaluation trap
        // (it is a generator, not an interpreted lambda).
        val toks = base0.select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
        mat(toks.join(tokenDict(toks), "tok")
          .groupBy("doc_id", "lang")
          .agg(collect_list(col("tid").cast("long")).as("ids")))
      } else
        base.select(col("doc_id"), col("lang"),
          transform(col("toks"), t => pmod(xxhash64(t), lit(P))).as("ids"))
    val sig = mat(explodeBandSigs(withIds))
    // Explicit 32-way spread of the candidate table before the verify
    // joins: the signature tables are byte-small, so AQE broadcasts the
    // array sides and coalesces the candidate stream to ~1 partition —
    // and the per-pair array_intersect CPU of the verify then serializes
    // onto one task (the q97/q40/q83 lesson; AQE never coalesces an
    // explicit numbered repartition). On a dense corpus the verify is the
    // dominant stage, so the spread matters even at bench scale.
    val cand = sig.as("x")
      .join(sig.as("y"), col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .repartition(32)
    // Exact-Jaccard verify as per-candidate array intersection of the two
    // carried per-doc sets — one join per side against the doc-level table
    // instead of the token-exploded twin joins + re-group this replaced
    // (two fewer shuffles, and the shuffled token table was |corpus| rows).
    // The dict path intersects the LONG id arrays (the rank dictionary is
    // injective, so id-set Jaccard IS token-set Jaccard, and long equality
    // is several times cheaper than UTF8String equality — pushdown inlines
    // this expression into the filter, so per-evaluation cost matters);
    // the hashed path MUST intersect token strings, since xxhash64-mod-P
    // collisions may only ever add LSH candidates, never perturb jaccard.
    val vset =
      if (portableIds) withIds.select(col("doc_id"), col("ids").as("vset"))
      else base.select(col("doc_id"), col("toks").as("vset"))
    // No join-strategy hint: at test scale AQE broadcasts the tiny vset
    // (fine), at corpus scale vset outgrows the broadcast threshold and
    // the planner shuffles on doc_id — the right plan falls out adaptively
    // in both regimes. (A forced shuffle_hash was measured: no gain — AQE
    // coalesces the post-join stage to the candidate table's byte size
    // either way, so it only added two exchanges.)
    cand
      .join(vset.select(col("doc_id").as("doc_a"), col("vset").as("__ta")), "doc_a")
      .join(vset.select(col("doc_id").as("doc_b"), col("vset").as("__tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__ta"), col("__tb"))).cast("long").as("n_common"),
        size(col("__ta")).cast("long").as("sz_a"),
        size(col("__tb")).cast("long").as("sz_b"))
      .withColumn("jaccard", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  val defs: Vector[(String, QDef)] = Vector(

    // ---------------------------------------------------------------- q46
    // MinHash + LSH banding (16 hashes, 4 bands × 4 rows): candidates
    // share a band signature within the same language; candidates are then
    // verified with exact Jaccard. Band collision probability is s^4, so
    // dissimilar pairs (the overwhelming majority) almost never become
    // candidates — THIS is what keeps the verify join linear at scale
    // (2-row bands collide at s^2 and drowned sf0.1 in ~250k candidates).
    // Hash family: h_i(id) = (mhMults(i)·id + 7i+5) mod P over dictionary
    // ids (see minhashArr's family note); band signature chains the 4
    // minhashes in base 131 (collisions are deterministic and only add
    // candidates, which exact-verify filters).
    "q46_minhash_lsh" -> QDef(
      (s, d) => {
        // Sampled blocking (doc_id % 3): this corpus has a 31-token
        // vocabulary, so BASELINE Jaccard between random docs is ~0.5 —
        // the "few similar pairs" premise of LSH doesn't hold and
        // candidate volume is inherently dense. Real corpora are sparse;
        // here we sample to keep the verify join proportionate.
        // localCheckpoint: toks feeds the dict and the id-array build, sig
        // feeds both sides of the candidate self-join, and tokIds feeds
        // the minhash chain plus the verify join — materialize each once
        // instead of re-exploding the corpus per branch. This is the
        // single-action analog of persisting the token table in a
        // production pipeline.
        val toks = docToks(s, d).where(col("doc_id") % 3 === 0).localCheckpoint()
        val dict = tokenDict(toks)
        // Per-doc token-id arrays, then all 16 minhashes as per-row HOF
        // math (min is order-independent, so collect_list order is
        // irrelevant). One shuffle instead of a 16×|tokens| exchange.
        val tokIds = toks.join(dict, "tok")
          .groupBy("doc_id", "lang")
          .agg(collect_list(col("tid").cast("long")).as("ids"))
          .localCheckpoint() // feeds the minhash chain AND the verify join (×2)
        // band signatures as staged per-row projections (explodeBandSigs):
        // same values as the oracle's posexplode→groupBy→sum replay, minus
        // the 16-rows-per-doc exchange that groupBy cost.
        val sig = explodeBandSigs(tokIds).localCheckpoint()
        val cand = sig.as("x")
          .join(sig.as("y"), col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        // Exact-Jaccard verify as per-pair set intersection: the per-doc
        // dictionary-id arrays are distinct (array_distinct upstream; the
        // dict is injective), so size(array_intersect) == the oracle's
        // token-equijoin COUNT(*) — but the plan joins |cand| pairs against
        // |docs| id arrays (two hash joins) instead of re-exploding every
        // candidate's token set through a shuffle join + re-aggregation.
        // On this dense corpus the token-level verify was q46's dominant
        // stage (with the pre-round-15 degenerate family, ~74% of
        // same-lang pairs became candidates; the power-residue family
        // cuts that to the true S-curve volume — q83 measures it); the array
        // form is what a production verify does at scale too —
        // signatures JOIN, payload arrays TRAVEL, intersection is
        // per-row CPU.
        val idArrs = tokIds.select(col("doc_id"), col("ids"))
        val verified = cand
          .join(idArrs.select(col("doc_id").as("doc_a"), col("ids").as("ids_a")), "doc_a")
          .join(idArrs.select(col("doc_id").as("doc_b"), col("ids").as("ids_b")), "doc_b")
          .withColumn("n_common", size(array_intersect(col("ids_a"), col("ids_b"))).cast("long"))
          .withColumn("jaccard",
            col("n_common") / (size(col("ids_a")) + size(col("ids_b")) - col("n_common")))
        verified
          .where(col("jaccard") >= 0.6)
          .select("doc_a", "doc_b", "n_common", "jaccard")
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(100)
      },
      s"""WITH toks AS (SELECT DISTINCT doc_id, lang, tok FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
         |   WHERE doc_id % 3 = 0) t),
         |dict AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
         |         FROM (SELECT DISTINCT tok FROM toks) u),
         |tid AS (SELECT doc_id, lang, tid FROM toks JOIN dict USING (tok)),
         |mh AS (SELECT doc_id, lang, i, MIN((h.mult*tid + (7*i+5)) % $P) AS mh
         |       FROM tid CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i,
         |                    unnest([${mhMultsSql}]) AS mult) h
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
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       n_common / (sa.sz + sb.sz - n_common) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |           JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.6
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100""".stripMargin
    ),

    // ---------------------------------------------------------------- q47
    // SimHash (16-bit): per-token pseudo-random sign bits weighted by term
    // frequency; near-dups are same-lang sampled pairs with hamming <= 4.
    "q47_simhash" -> QDef(
      (s, d) => {
        val tf = documents(s, d)
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "lang", "tok")
          .agg(count(lit(1)).as("cnt"))
        val dict = tokenDict(tf.select("doc_id", "lang", "tok"))
        val bits = s.range(0, 16).toDF("j")
        val scored = tf.join(dict, "tok").crossJoin(bits)
          .withColumn("g", ((col("tid") * (lit(2) * col("j") + 3) + (lit(7) * col("j") + 1)) % P) % 2)
          .groupBy("doc_id", "lang", "j")
          .agg(sum(col("cnt") * (lit(2) * col("g") - 1)).as("score"))
        val sims = scored
          .groupBy("doc_id", "lang")
          .agg(sum(when(col("score") > 0, pow(lit(2.0), col("j")).cast("long")).otherwise(0L)).as("simhash"))
        // both sides of the pair self-join read the materialized sample
        // instead of recomputing the whole simhash pipeline twice
        val sample = sims.where(col("doc_id") % 5 === 0).localCheckpoint()
        sample.as("x")
          .join(sample.as("y"), col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
          .withColumn("hamming", bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
          .where(col("hamming") <= 4)
          .select(
            col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.lang").as("lang"), col("hamming")
          )
          .orderBy("hamming", "doc_a", "doc_b")
          .limit(100)
      },
      s"""WITH tf AS (SELECT doc_id, lang, tok, COUNT(*) AS cnt FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
         |  GROUP BY 1, 2, 3),
         |dict AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
         |         FROM (SELECT DISTINCT tok FROM tf) u),
         |scored AS (SELECT doc_id, lang, j,
         |             SUM(cnt * (2 * (((tid * (2*j+3) + (7*j+1)) % $P) % 2) - 1)) AS score
         |           FROM tf JOIN dict USING (tok) CROSS JOIN range(0, 16) b(j)
         |           GROUP BY 1, 2, 3),
         |sims AS (SELECT doc_id, lang,
         |           CAST(SUM(CASE WHEN score > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |         FROM scored GROUP BY 1, 2),
         |sample AS (SELECT * FROM sims WHERE doc_id % 5 = 0)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.lang AS lang,
         |       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM sample x JOIN sample y ON x.lang = y.lang AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
         |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin
    ),

    // ---------------------------------------------------------------- q56
    // SimHash near-dup via PIGEONHOLE piece-blocking — the sublinear
    // hamming search: split the 16-bit fingerprint into four 4-bit
    // pieces; any pair within hamming <= 3 must agree on at least one
    // piece, so candidate generation is four equi-joins on (lang, piece
    // index, piece value) instead of the all-pairs scan q47 does. The
    // hamming <= 3 verify on candidates is then exact (no recall loss —
    // unlike MinHash banding, the pigeonhole bound is a guarantee).
    //
    // Round 10 (VERDICT r9 task #3): this is the SCALE form of SimHash, so
    // it uses the portable pure-projection token hash (md5-hex → long, the
    // q69/q107 family — identical in DuckDB) instead of q47's rank
    // dictionary, and packs all 16 sign sums into ONE statically-unrolled
    // aggregation. That removes the dict's distinct+windows+join and the
    // crossJoin(16)+second-groupBy — 4 fewer stages, which cut the
    // fresh-plan (cold JVM) cost from ~10.6 s to the low single digits;
    // warm cost also drops (no 16× row expansion through the shuffle).
    // Sign-bit quality is unchanged: any fixed pseudo-random tid family
    // works, and both engines compute the identical md5-derived tid.
    "q56_simhash_blocked" -> QDef(
      (s, d) =>
        simhashPairs(documents(s, d)
            .where(col("doc_id") % 2 === 0), 16) // sampled blocking, like q40/q46
          .orderBy("hamming", "doc_a", "doc_b")
          .limit(100),
      s"""WITH tf AS (SELECT doc_id, lang, tok, COUNT(*) AS cnt FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
         |   WHERE doc_id % 2 = 0) t
         |  GROUP BY 1, 2, 3),
         |tid AS (SELECT doc_id, lang, cnt,
         |          CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % $P AS tid
         |        FROM tf),
         |sims AS (SELECT doc_id, lang,
         |           CAST(SUM(CASE WHEN score > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |         FROM (SELECT doc_id, lang, j,
         |                 SUM(cnt * (2 * (((tid * (2*j+3) + (7*j+1)) % $P) % 2) - 1)) AS score
         |               FROM tid CROSS JOIN range(0, 16) b(j)
         |               GROUP BY 1, 2, 3) sc
         |         GROUP BY 1, 2),
         |pieces AS (SELECT doc_id, lang, simhash, p AS piece_idx,
         |             (simhash // CAST(pow(2, p * 4) AS BIGINT)) % 16 AS piece
         |           FROM sims CROSS JOIN range(0, 4) pr(p)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                x.lang AS lang, x.simhash AS sh_a, y.simhash AS sh_b
         |         FROM pieces x JOIN pieces y
         |           ON x.lang = y.lang AND x.piece_idx = y.piece_idx
         |          AND x.piece = y.piece AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, lang,
         |       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin
    ),

    // ---------------------------------------------------------------- q48
    // Embedding-cosine near-dup: sampled pairs with cosine >= 0.30
    // (threshold chosen non-vacuous for this corpus: ~top-1% of pairs).
    "q48_embedding_neardup" -> QDef(
      (s, d) => {
        val sample = embeddings(s, d)
          .where(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("n2", DotProduct.norm2(col("e")))
        sample.as("x")
          .join(sample.as("y"), col("x.vec_id") < col("y.vec_id"))
          .withColumn("cos_sim", DotProduct.dot(col("x.e"), col("y.e")) / sqrt(col("x.n2") * col("y.n2")))
          .where(col("cos_sim") >= 0.30)
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      },
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), z -> z*z), 'sum') AS n2
        |           FROM embeddings WHERE vec_id % 5 = 0)
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |       list_aggregate(list_transform(list_zip(x.e, y.e), z -> z[1]*z[2]), 'sum')
        |         / sqrt(x.n2 * y.n2) AS cos_sim
        |FROM s x JOIN s y ON x.vec_id < y.vec_id
        |WHERE list_aggregate(list_transform(list_zip(x.e, y.e), z -> z[1]*z[2]), 'sum')
        |        / sqrt(x.n2 * y.n2) >= 0.30
        |ORDER BY cos_sim DESC, vec_a, vec_b""".stripMargin
    ),

    // ---------------------------------------------------------------- q49
    // Language ID by token-profile overlap: per-language top-10 token
    // profiles (from the corpus), each doc classified to the profile it
    // shares most distinct tokens with (tie -> lexicographically smaller
    // language). Output is the confusion matrix.
    "q49_lang_id" -> QDef(
      (s, d) => {
        val tf = documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
        val prof = tf
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))))
          .where(col("rn") <= 10)
          .select(col("lang").as("plang"), col("tok"))
        val overlap = docToks(s, d)
          .join(prof, "tok")
          .groupBy("doc_id", "lang", "plang")
          .agg(count(lit(1)).as("n_shared"))
        overlap
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("n_shared").desc, col("plang"))))
          .where(col("rn") === 1)
          .groupBy(col("lang"), col("plang").as("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "pred_lang")
      },
      """WITH tf AS (SELECT lang, tok, COUNT(*) AS cnt FROM
        |  (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY 1, 2),
        |prof AS (SELECT lang AS plang, tok FROM
        |  (SELECT lang, tok, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rn
        |   FROM tf) p WHERE rn <= 10),
        |dtoks AS (SELECT DISTINCT doc_id, lang, tok FROM
        |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents) t),
        |overlap AS (SELECT doc_id, lang, plang, COUNT(*) AS n_shared
        |            FROM dtoks JOIN prof USING (tok) GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, lang, plang FROM
        |  (SELECT doc_id, lang, plang,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, plang) AS rn
        |   FROM overlap) r WHERE rn = 1)
        |SELECT lang, plang AS pred_lang, COUNT(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),

    // ---------------------------------------------------------------- q50
    // Quality scoring: type-token ratio, stopword ratio, avg token length,
    // and a weighted quality score. All ratios are integer quotients and
    // the score is the identical IEEE expression in both engines.
    "q50_quality_score" -> QDef(
      (s, d) => {
        val stops = array(Seq("a", "the", "row", "value", "table", "and", "of").map(lit): _*)
        documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_toks", size(col("toks")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("n_stop", size(filter(col("toks"), t => array_contains(stops, t))).cast("long"))
          .withColumn("ttr", col("n_distinct") / col("n_toks"))
          .withColumn("stop_ratio", col("n_stop") / col("n_toks"))
          .withColumn("avg_tok_len", (col("n_chars") - (col("n_toks") - 1)) / col("n_toks"))
          .withColumn(
            "quality",
            lit(0.5) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
              lit(0.2) * (least(col("n_toks"), lit(100L)) / 100.0)
          )
          .select("doc_id", "lang", "n_toks", "n_distinct", "n_stop", "ttr",
            "stop_ratio", "avg_tok_len", "quality")
          .orderBy("doc_id")
          .limit(300)
      },
      """SELECT doc_id, lang, n_toks, n_distinct, n_stop,
        |  n_distinct / n_toks AS ttr,
        |  n_stop / n_toks AS stop_ratio,
        |  (n_chars - (n_toks - 1)) / n_toks AS avg_tok_len,
        |  0.5 * (n_distinct / n_toks) + 0.3 * (1.0 - (n_stop / n_toks))
        |    + 0.2 * (least(n_toks, 100) / 100.0) AS quality
        |FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['a','the','row','value','table','and','of'], t))) AS BIGINT) AS n_stop
        |  FROM documents) t
        |ORDER BY doc_id LIMIT 300""".stripMargin
    ),

    // ---------------------------------------------------------------- q51
    // Document fingerprinting: 3-gram shingle hashes over dictionary ids
    // (rolling-hash family (31,37,41) mod 1000003), per-doc shingle stats.
    "q51_fingerprint" -> QDef(
      (s, d) => {
        val ptoks = documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .withColumnRenamed("col", "tok")
          .localCheckpoint() // feeds both the dictionary and the shingle join
        val dict = tokenDict(ptoks.select("tok"))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        ptoks.join(dict, "tok")
          .withColumn("id2", lead(col("tid"), 1).over(w))
          .withColumn("id3", lead(col("tid"), 2).over(w))
          .where(col("id3").isNotNull)
          .withColumn("sh", (col("tid") * 31 + col("id2") * 37 + col("id3") * 41) % 1000003)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_shingles"),
            countDistinct(col("sh")).as("n_distinct_shingles"),
            min(col("sh")).cast("long").as("fp_min")
          )
          .orderBy("doc_id")
          .limit(300)
      },
      """WITH ptoks AS (
        |  SELECT doc_id, CAST(pos - 1 AS INT) AS pos, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |           generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM documents) t),
        |dict AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
        |         FROM (SELECT DISTINCT tok FROM ptoks) u),
        |sh AS (SELECT doc_id,
        |         (tid * 31 + lead(tid, 1) OVER w * 37 + lead(tid, 2) OVER w * 41) % 1000003 AS sh
        |       FROM ptoks JOIN dict USING (tok)
        |       WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |       COUNT(DISTINCT sh) AS n_distinct_shingles,
        |       CAST(MIN(sh) AS BIGINT) AS fp_min
        |FROM sh WHERE sh IS NOT NULL
        |GROUP BY doc_id ORDER BY doc_id LIMIT 300""".stripMargin
    ),

    // ---------------------------------------------------------------- q52
    // LSH-bucketed ANN — the scale path for q41. Three deterministic
    // integer-valued random hyperplanes split vectors into 8 buckets; each
    // query ranks cosine ONLY within its bucket (N/8 candidates here;
    // N/2^bits in production). Hyperplane weights w(j,k) =
    // ((j·64+k)·2654435761 mod 97) − 48, identical arithmetic both engines.
    "q52_ann_lsh_bucketed" -> QDef(
      (s, d) => {
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("bucket", SignHash.bucket(col("e"), 3))
          .withColumn("n2", DotProduct.norm2(col("e")))
        val q = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"), col("n2").as("qn"))
        emb.join(broadcast(q), Seq("bucket"))
          .where(col("vec_id") =!= col("qid"))
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))))
          .where(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("vid"), col("bucket"), col("cos_sim"),
            col("rnk").cast("int").as("rnk"))
          .orderBy("qid", "rnk")
      },
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), z -> z*z), 'sum') AS n2,
        |    (CASE WHEN list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]),
        |       list_transform(range(0, 64), k -> CAST((0*64+k)*2654435761 % 97 - 48 AS DOUBLE))),
        |       z -> z[1]*z[2]), 'sum') > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]),
        |       list_transform(range(0, 64), k -> CAST((1*64+k)*2654435761 % 97 - 48 AS DOUBLE))),
        |       z -> z[1]*z[2]), 'sum') > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]),
        |       list_transform(range(0, 64), k -> CAST((2*64+k)*2654435761 % 97 - 48 AS DOUBLE))),
        |       z -> z[1]*z[2]), 'sum') > 0 THEN 4 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe, bucket, n2 AS qn FROM emb WHERE vec_id < 10),
        |ranked AS (
        |  SELECT q.qid, emb.vec_id AS vid, q.bucket AS bucket,
        |    list_aggregate(list_transform(list_zip(q.qe, emb.e), z -> z[1]*z[2]), 'sum')
        |      / sqrt(q.qn * emb.n2) AS cos_sim
        |  FROM emb JOIN q ON emb.bucket = q.bucket AND emb.vec_id <> q.qid)
        |SELECT qid, vid, CAST(bucket AS BIGINT) AS bucket, cos_sim,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS INT) AS rnk
        |FROM ranked QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin
    )
  )
}
