package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Curation, LlmExt2, Lloyd, Round11c, Round12b, Round13b, Round9b}
import graft.plans.{DotProduct, SignHash}

/** Dev measurement harness: the scaling curves of the shipped dedup,
  * similarity, ANN and graph operators, on corpora synthesized through
  * the deterministic id arithmetic of the `graft-gen` DSv2 source (no new
  * testdata needed). Each regime is a generator ([[docs]], [[vecs]],
  * [[clusteredVecs]] or raw `graft-gen` events) plus the function the
  * declared query ships, called with its scale constant as a parameter,
  * so a row keeps describing the query when the query changes:
  *
  *  - `real` | `heaps` | `adv` (pipelines): `minhash_lsh` →
  *    `LlmExt2.minhashLshPairs` (q46); `simhash_blocked` →
  *    `LlmExt2.simhashPairs` at 48 bits (q56 passes 16); `incremental` →
  *    `Curation.deltaMatches` (q75); `prefix_filter` →
  *    `Mining.ppjoinPairs` (q101); `snm_w8` / `snm_derived` →
  *    `Round9b.snmPairs` at width 8 (q137's) / at `Round9b.snmWidth`.
  *  - `snmrecall`: `Round9b.snmPairs` at 8 vs at `Round9b.snmWidth`.
  *  - `kcore`: `Round11c.cappedEdges` (q225).
  *  - `semdedup`: `Lloyd.assignNarrow` or `SignHash.fold` cell keys, then
  *    `Round12b.cellPairs` (q231).
  *  - `spans`: `Round12c.dupSpans` (q235), `Round12c.cdcDupChunks` (q236).
  *  - `prefix`: `Round12c.prefixCacheStats` (q238) against the windowed
  *    form it replaced, kept as the measured control.
  *  - `knngraph`, `clustered`: the q234/q244 cell graph with the
  *    `DotProduct.gridDist` kernel; `clustered` adds two `ann` rows.
  *  - `silh`: `Round13b.silhStats` (q247) against the carve×N pairwise
  *    pass, both finished by `Round13b.silhouette`.
  *  - `mhfamily`: `LlmExt2.tokenDict` / `bandSigsFromMh` / `mhMults`
  *    (q46) against two measured control families.
  *  - `ann`: `SignHash.bucket` (q52, q220 via `first`, q229 via `prime`),
  *    `SignHash.word` (q232), `Ann.ivfIndex` / `ivfTopK` (q62),
  *    `Round10n.pqCodebook` / `pqEncode` / `adcDistances` (q205/q206) and
  *    an IVF-PQ composition on the `Lloyd` kernel.
  *
  * Candidate volume is a DATA property, hence the corpus regimes:
  *  - `real`: two-tier Zipf-ish draw (80% from 2048 hot tokens, 20% from
  *    65536 cold) — the sparse-similarity regime every LSH paper assumes.
  *    (A first cut used a 50-token hot core carrying 80% of the mass:
  *    every doc then contains the few lowest-hashing hot tokens, minhash
  *    signatures go nearly constant, and LSH degenerates to Θ(n²)
  *    candidates — 63 s at 50k docs, >66 GB of spill at 250k. Signature
  *    diversity needs VOCABULARY diversity; that run is kept in SCALE.md
  *    §11 as the measured failure mode.);
  *  - `adv`: the testdata's adversarial 31-token density (baseline
  *    Jaccard ~0.5), where near-EVERY same-lang pair collides and any
  *    candidate generator's output is Θ(n²) BY CONSTRUCTION — the plans
  *    stay equi-join-shaped, but no plan can beat the output size.
  *
  * Every 10th doc duplicates its block's first doc, so dedup finds real
  * clusters at every size. Usage:
  *   runMain graft.ScaleCurve [regime] [sizes,csv] [pipelines,csv]
  * defaults: real 5000,50000,250000 (adv caps at 20000 — see above).
  * Results → SCALE.md §11-§12.
  */
object ScaleCurve {

  /** Deterministic synthetic documents over the graft-gen source: id →
    * (doc_id, lang, text); text tokens drawn by pure hash arithmetic so
    * any size regenerates bit-identically. */
  def docs(spark: SparkSession, n: Long, regime: String): DataFrame = {
    val base = spark.read.format("graft-gen")
      .option("rows", n.toString).option("partitions", "32").load()
      // every 10th doc is a VERBATIM duplicate of its block's first doc
      // (seed drives both the token stream and the length)
      .select(col("id").as("doc_id"),
        when(col("id") % 10 === 9, col("id") - 9).otherwise(col("id")).as("seed"))
      // lang/len re-derived from seed so the duplicate lands in the SAME
      // lang block as its original (every pipeline blocks by lang)
      .withColumn("lang", element_at(
        array(graft.sources.GraftGen.langs.map(lit).toIndexedSeq: _*),
        (pmod(col("seed"), lit(5)) + 1).cast("int")))
      .withColumn("len", lit(20L) + (col("seed") * 37L) % 100L)
    val tok =
      if (regime == "adv")
        (h: org.apache.spark.sql.Column) => concat(lit("t"), pmod(h, lit(31)))
      else {
        // `heaps`: the cold vocabulary grows with the corpus (Heaps' law —
        // real vocabularies grow ~n^0.5-0.8), keeping per-token document
        // frequency flat; `real` holds it FIXED at 65536, so candidate
        // volume for token-bucketed joins grows Θ(n²/V) by construction.
        val cold = if (regime == "heaps") math.max(65536L, n * 13) else 65536L
        (h: org.apache.spark.sql.Column) =>
          when(pmod(h, lit(10)) < 8, concat(lit("h"), pmod(h, lit(2048))))
            .otherwise(concat(lit("c"), pmod(h, lit(cold))))
      }
    base.select(col("doc_id"), col("lang"),
      array_join(transform(sequence(lit(1), col("len")),
        p => tok(xxhash64(col("seed") * 1315423911L + p.cast("long")))), " ").as("text"))
  }

  /** q75's shape over hashed-id arrays: [[graft.ops.Curation.deltaMatches]]
    * (1/5 delta probes 4/5 history, exact verify on the id arrays). */
  private def incremental(d: DataFrame): DataFrame =
    Curation.deltaMatches(d.select(col("doc_id"), col("lang"),
      transform(array_distinct(split(col("text"), " ")),
        t => pmod(xxhash64(t), lit(LlmExt2.P))).as("ids"))
      .localCheckpoint())

  /** q101's production shape, uncarved: the shared PPJoin+ stack
    * (rarest-first prefix + length + positional filters) at 0.9. */
  private def prefixFilter(d: DataFrame): DataFrame =
    graft.ops.Mining.ppjoinPairs(d).select("doc_a", "doc_b")

  /** q137 at the production width [[Round9b.snmWidth]] derives. */
  private def snmDerived(d: DataFrame): DataFrame = {
    val w = Round9b.snmWidth(d)
    println(s"    [snm_derived] width=$w")
    Round9b.snmPairs(d, w)
  }

  /** Recall audit for the derived width: pair overlap of the derived-width
    * run against the declared w=8 run at each size (`regime snmrecall`).
    * SNM recall is window-placement-dependent, so widening blocks MOVES
    * sort neighborhoods; the audit measures what that costs. */
  private def snmRecall(spark: SparkSession, sizes: Seq[Long], regime: String): Unit = {
    println(f"${"n_docs"}%8s ${"width"}%6s ${"pairs_w8"}%10s ${"pairs_wd"}%10s ${"overlap"}%10s ${"recall_vs_w8"}%13s ${"planted_w8"}%10s ${"planted_wd"}%10s")
    for (n <- sizes) {
      val d = docs(spark, n, regime).localCheckpoint()
      val w8 = Round9b.snmPairs(d, 8).select("doc_a", "doc_b").localCheckpoint()
      val w = Round9b.snmWidth(d)
      val wd = Round9b.snmPairs(d, w).select("doc_a", "doc_b").localCheckpoint()
      val (nW8, nWd) = (w8.count(), wd.count())
      val overlap = w8.intersect(wd).count()
      // recall on the PLANTED verbatim duplicates (doc 10k+9 copies 10k) —
      // the dedup-relevant metric: identical texts share any prefix and
      // sort adjacent, so block splits should never lose them
      val planted = spark.range(0, (n + 9) / 10)
        .select((col("id") * 10).as("a"), (col("id") * 10 + 9).as("b"))
        .where(col("b") < n)
      def plantedRecall(p: DataFrame): Double = {
        val norm = p.select(least(col("doc_a"), col("doc_b")).as("a"),
          greatest(col("doc_a"), col("doc_b")).as("b"))
        // sizes below the planted-pair stride have 0 planted pairs — report
        // recall 0 rather than NaN (ADVICE round 11)
        norm.join(planted, Seq("a", "b")).count().toDouble /
          math.max(planted.count(), 1L)
      }
      println(f"$n%8d $w%6d $nW8%10d $nWd%10d $overlap%10d ${overlap.toDouble / math.max(nW8, 1L)}%13.3f ${plantedRecall(w8)}%10.3f ${plantedRecall(wd)}%10.3f")
    }
  }

  /** kcore regime: q225's capped edge build ([[Round11c.cappedEdges]]) on
    * a synthetic event stream whose (hour, type) cell density grows
    * linearly with volume; capped, edges stay ≤ C(16,2)·cells. The
    * uncapped control grew exactly quadratically (SCALE.md §12 table). */
  private def kcoreCurve(spark: SparkSession, sizes: Seq[Long]): Unit = {
    println(f"${"variant"}%-10s ${"n_events"}%9s ${"n_cells"}%8s ${"edges"}%12s ${"sec"}%8s")
    for (n <- sizes) {
      val ev = spark.read.format("graft-gen")
        .option("rows", n.toString).option("partitions", "32").load()
        .select((col("id") % lit(math.max(n / 50, 1L))).as("user_id"),
          pmod(xxhash64(col("id") * 7919L), lit(24L)).as("hb"),
          concat(lit("t"), pmod(xxhash64(col("id") * 104729L), lit(4L))).as("event_type"))
        .distinct()
        .localCheckpoint()
      val nCells = ev.select("hb", "event_type").distinct().count()
      val t0 = System.nanoTime()
      val cnt = Round11c.cappedEdges(ev).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"${"capped16"}%-10s $n%9d $nCells%8d $cnt%12d $dt%8.2f")
    }
  }

  /** Deterministic synthetic vectors: id → 64 hash-arithmetic dims in
    * [-1, 1], any size regenerates bit-identically. */
  private def vecs(spark: SparkSession, n: Long): DataFrame =
    spark.read.format("graft-gen")
      .option("rows", n.toString).option("partitions", "32").load()
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          k => (pmod(xxhash64(col("id") * lit(2654435761L) + k.cast("long")),
            lit(2001L)) - 1000L).cast("double") / 1000.0).as("embedding"))

  /** Planted-cluster corpus (round-14 verdict task #3): vector = cluster
    * center + 0.25·noise, both drawn by the same deterministic hash
    * arithmetic as [[vecs]]. Cluster COUNT grows with N (population
    * pinned ~500 — the same policy the knngraph/semdedup regimes pin
    * nlist by), so the geometry scales the way the routing assumes.
    * Separation is moderate, not toy: expected inter-center d² ≈ 64·2/3
    * ≈ 43 vs within-cluster d² ≈ 64·2·0.25²/3 ≈ 2.7 (≈4× in distance) —
    * real embedding clusters overlap more than a synthetic grid but far
    * less than the isotropic corpus (which has NO structure to capture:
    * max cos 0.46). */
  private def clusteredVecs(spark: SparkSession, n: Long): DataFrame = {
    val ncl = math.max(8L, n / 500)
    spark.read.format("graft-gen")
      .option("rows", n.toString).option("partitions", "32").load()
      .withColumn("g", pmod(xxhash64(col("id")), lit(ncl)))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), k =>
          (pmod(xxhash64(col("g") * lit(2654435761L) + k.cast("long")),
            lit(2001L)) - 1000L).cast("double") / 1000.0
          + lit(0.25) *
            (pmod(xxhash64(col("id") * lit(3266489917L) + k.cast("long")
              + lit(1000000007L)), lit(2001L)) - 1000L).cast("double") / 1000.0)
          .as("embedding"))
  }

  /** semdedup regime (round 12): q231's scale posture measured. The claim
    * is that within-cluster pairwise comparison is LINEAR in N once
    * cluster populations are pinned (~500 here) by growing the cluster
    * count with N — vs the all-pairs quadratic. Two cluster-key shapes:
    *  - `semdedup_kmeans` (q231's declared shape): frozen seed centroids,
    *    integer-grid argmin assignment. The PAIRWISE stage is linear, but
    *    the ASSIGN stage is Θ(N·nlist) = Θ(N²/target) when nlist grows
    *    with N — the curve exposes that bend honestly (production runs
    *    the assign as sampled-trained blocked BLAS, or picks the next
    *    shape).
    *  - `semdedup_signbucket`: cluster key = the first ⌈log2(N/500)⌉
    *    SIGN bits of the vector (the q232 binary-code trick as a
    *    bucketer) — assignment is ONE projection, Θ(N) total; the
    *    measured near-linear scale path.
    * Every cell key feeds q231's own pairwise stage, `Round12b.cellPairs`.
    * Both plant 1/17 coarser-grid twins (q231's plant) and report planted
    * recall — a curve that loses its planted pairs is pruning wrongly. */
  private def semdedupCurve(spark: SparkSession, sizes: Seq[Long]): Unit = {
    println(f"${"pipeline"}%-20s ${"n_vecs"}%8s ${"cells"}%6s ${"sec"}%8s ${"pairs"}%12s ${"recall"}%7s")
    for (n <- sizes) {
      val qv = graft.ops.Round11.quantized(
        vecs(spark, n).select(col("vec_id"), col("embedding")))
      val twins = qv.where(col("vec_id") % 17 === 5)
        .select((col("vec_id") + lit(100000000L)).as("vec_id"),
          expr("transform(v, x -> x - x % 1000)").as("v"))
      val all = qv.unionAll(twins).localCheckpoint()
      val nPlanted = all.where(col("vec_id") >= 100000000L).count()

      def pairwise(nm: String, cells: Int, assigned: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val r = Round12b.cellPairs(assigned)
          .agg(count(lit(1)).as("pairs"),
            sum(when(col("cos_sim") > 0.8 &&
              col("id_b") === col("id_a") + 100000000L, 1L).otherwise(0L))
              .as("planted_found"))
          .collect()(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$nm%-20s $n%8d $cells%6d $dt%8.2f ${r.getLong(0)}%12d " +
          f"${r.getLong(1).toDouble / math.max(nPlanted, 1L)}%7.3f")
      }

      val nlist = math.max(8, (n / 500).toInt)
      pairwise("semdedup_kmeans", nlist, {
        val c0 = all.where(col("vec_id") < nlist)
          .select(col("vec_id").as("j"), col("v").as("c")).localCheckpoint()
        Lloyd.assignNarrow(all, c0, nlist).localCheckpoint()
      })
      val bBits = math.max(3, (63 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, n / 500))).toInt)
      pairwise("semdedup_signbucket", 1 << bBits, all.withColumn("list_id",
        SignHash.fold((1 to bBits).map(i => element_at(col("v"), i)))).localCheckpoint())
      if (n <= 10000)
        pairwise("semdedup_allpairs", 1,
          all.withColumn("list_id", lit(0L)).localCheckpoint())
    }
  }

  /** spans regime (round 12): q235/q236's scale posture measured. The
    * docs generator plants a VERBATIM duplicate every 10th doc, so every
    * planted doc must emit one full-doc duplicated span (q235) and its
    * whole chunk sequence as duplicate chunks (q236). The claim under
    * test: both pipelines are LINEAR in token volume (gram/token explode
    * + map-side-combinable rollup + hash join + doc-partitioned windows —
    * no all-pairs term anywhere), and planted recall holds 1.0 at every
    * size (a curve that loses planted duplicates is pruning wrongly).
    * q235 recall = planted docs whose span covers the whole doc; q236
    * recall = saved duplicate tokens / planted token volume (== 1 when
    * exactly the planted copies dedup; > 1 only via chance collisions). */
  private def spansCurve(spark: SparkSession, sizes: Seq[Long]): Unit = {
    println(f"${"pipeline"}%-12s ${"n_docs"}%8s ${"sec"}%8s ${"rows"}%10s ${"recall"}%7s")
    for (n <- sizes) {
      val d = docs(spark, n, "real")
        .withColumn("source", col("lang")).localCheckpoint()
      val plantedRow = d.where(col("doc_id") % 10 === 9)
        .agg(count(lit(1)), sum(size(split(col("text"), " ")))).collect()(0)
      val (planted, plantedToks) = (plantedRow.getLong(0), plantedRow.getLong(1))
      for ((nm, hashed) <- Seq(("dup_spans", false), ("dup_spans_h64", true))) {
        val t0 = System.nanoTime()
        val spans = graft.ops.Round12c.dupSpans(d, hashKey = hashed).localCheckpoint()
        val nSpans = spans.count()
        val full = spans
          .join(d.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("len")), "doc_id")
          .where(col("doc_id") % 10 === 9 &&
            col("span_start") === 1 && col("span_toks") === col("len"))
          .count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$nm%-12s $n%8d $dt%8.2f $nSpans%10d " +
          f"${full.toDouble / math.max(planted, 1L)}%7.3f")
      }
      locally {
        val t0 = System.nanoTime()
        val dup = graft.ops.Round12c.cdcDupChunks(d).localCheckpoint()
        val agg = dup.agg(count(lit(1)), coalesce(sum("saved_toks"), lit(0L)))
          .collect()(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"${"cdc_chunks"}%-12s $n%8d $dt%8.2f ${agg.getLong(0)}%10d " +
          f"${agg.getLong(1).toDouble / math.max(plantedToks, 1L)}%7.3f")
      }
    }
  }

  /** ANN regime: measure brute-force / LSH-bucketed / IVF top-5 search for
    * Q=100 queries as the corpus grows, plus each approximate method's
    * recall@5 against the brute answer AT THAT SIZE (recall is the claim
    * the bucketed plans trade time for — a curve without it would hide
    * degenerating answers). Shapes are q41/q52/q62's production forms:
    * broadcast query side, bucket/list equi-joins, no all-pairs. */
  private def annCurve(spark: SparkSession, sizes: Seq[Long],
      want: Set[String] = Set.empty,
      mkVecs: (SparkSession, Long) => DataFrame = vecs): Unit = {
    val K = 5
    println(f"${"pipeline"}%-16s ${"n_vecs"}%8s ${"sec"}%8s ${"rows"}%10s ${"recall@5"}%9s")
    for (n <- sizes) {
      val emb = mkVecs(spark, n)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("n2", DotProduct.norm2(col("e")))
        .localCheckpoint()
      val q = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn"))
      val wRank = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))

      // the thunk runs INSIDE the clock so eager steps (ivfIndex's
      // localCheckpoint build) are charged to their pipeline
      def timed(nm: String, mk: () => DataFrame,
          brute: Option[Set[(Long, Long)]]): Set[(Long, Long)] = {
        // pipeline filter (3rd CLI arg) — brute always runs (ground truth)
        if (want.nonEmpty && !want(nm) && brute.nonEmpty) return Set.empty
        val t0 = System.nanoTime()
        val rows = mk().select(col("qid"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        val recall = brute.map(b => rows.intersect(b).size.toDouble / b.size)
        println(f"$nm%-16s $n%8d $dt%8.2f ${rows.size}%10d ${recall.map(r => f"$r%9.3f").getOrElse("    exact")}%s")
        rows
      }

      val brute = timed("brute_topk", () =>
        emb.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K),
        None)

      // q52's hyperplane-LSH at 4 and 8 bits (16 and 256 buckets)
      for (bits <- Seq(4, 8)) timed(s"lsh_bucket$bits", () => {
        val be = emb.withColumn("bucket", SignHash.bucket(col("e"), bits)).localCheckpoint()
        val bq = be.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"), col("n2").as("qn"))
        be.join(broadcast(bq), Seq("bucket")).where(col("vec_id") =!= col("qid"))
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K)
      }, Some(brute))

      // q220's multi-table OR'd LSH: L independent 8-bit sign tables over
      // the SAME hyperplane family (table t = hyperplanes t·8..t·8+7, so
      // table 0 IS lsh_bucket8's table); candidates = union of bucket-mates
      // across tables, exact cosine re-rank. Candidate volume is
      // Q·L·N/2^bits — L× the single table, recall 1−(1−p)^L.
      for (l <- Seq(4, 8)) timed(s"lsh_multi${l}x8", () => {
        val bits = 8
        val be = emb.select(col("vec_id"), col("e"), col("n2"),
            posexplode(array((0 until l).map(t =>
              SignHash.bucket(col("e"), bits, first = t * bits)): _*)))
          .withColumnsRenamed(Map("pos" -> "t", "col" -> "bucket"))
          .localCheckpoint()
        val bq = be.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("t"), col("bucket"))
        be.select("vec_id", "t", "bucket")
          .join(broadcast(bq), Seq("t", "bucket"))
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
          .repartition(32)
          .join(emb, "vec_id")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K)
      }, Some(brute))

      // Decorrelation control for the multi-table rows: same L×8-bit
      // budget, but each table draws from its OWN integer family (distinct
      // public hash-prime multiplier per table) instead of consecutive
      // slices of one family — tests whether the measured sub-independent
      // lift (SCALE.md §12) is family correlation or a property of the
      // isotropic data itself.
      for (l <- Seq(4)) timed(s"lsh_multi${l}x8d", () => {
        val bits = 8
        val prime = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
        val be = emb.select(col("vec_id"), col("e"), col("n2"),
            posexplode(array((0 until l).map(t =>
              SignHash.bucket(col("e"), bits, prime = prime(t))): _*)))
          .withColumnsRenamed(Map("pos" -> "t", "col" -> "bucket"))
          .localCheckpoint()
        val bq = be.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("t"), col("bucket"))
        be.select("vec_id", "t", "bucket")
          .join(broadcast(bq), Seq("t", "bucket"))
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
          .repartition(32)
          .join(emb, "vec_id")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K)
      }, Some(brute))

      // q232's binary sign quantization: 1 bit/dim (two BIGINT words,
      // 8 bytes/vector — 16× smaller than the 16-byte PQ codes), Hamming
      // top-50 shortlist via popcount(xor) in codegen, exact cosine
      // re-rank of Q·50 rejoined raw vectors. No training, no codebooks —
      // the index build is ONE projection. The shortlist window is
      // qid-partitioned and rank-limited (WindowGroupLimit pushes the
      // top-50 map-side).
      for (short <- Seq(50, 200)) timed(s"hamming64_rr$short", () => {
        val ce = emb.select(col("vec_id"),
            SignHash.word(col("e"), 0).as("w0"), SignHash.word(col("e"), 32).as("w1"))
          .localCheckpoint()
        val cq = ce.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("w0").as("qw0"), col("w1").as("qw1"))
        ce.join(broadcast(cq), col("vec_id") =!= col("qid"))
          .withColumn("ham", expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)"))
          .withColumn("srnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ham"), col("vec_id"))))
          .where(col("srnk") <= short)
          .select("qid", "vec_id")
          .repartition(32) // the q97 probe-side lever: spread the re-rank CPU
          .join(emb, "vec_id")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K)
      }, Some(brute))

      // IVF-routed binary codes — the composition the hamming64_rr50 note
      // names as the production recall fix: route queries to nprobe=8 of
      // 64 coarse lists (q62's index), Hamming-shortlist ONLY within the
      // probed lists (≈1/8 of the corpus per query — less error-ball
      // flooding than the corpus-wide shortlist), exact cosine re-rank.
      // Scan cost per query: nprobe/nlist of the corpus × 8 bytes.
      timed("ivf64_hamming_rr50", () => {
        val (index, centroids) = graft.ops.Ann.ivfIndex(
          emb.select(col("vec_id"), col("e").as("embedding")), nlist = 64)
        val codes = index.select(col("vec_id"), col("list_id"),
          SignHash.word(col("e"), 0).as("w0"), SignHash.word(col("e"), 32).as("w1"))
          .localCheckpoint()
        // route with the SAME L2 metric the index assignment used
        val qprobe = emb.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("e"), col("n2"))
          .crossJoin(broadcast(centroids.select(col("list_id"), col("ce"))))
          .withColumn("d", col("n2") + DotProduct.norm2(col("ce"))
            - lit(2.0) * DotProduct.dot(col("e"), col("ce")))
          .withColumn("pr", row_number().over(
            Window.partitionBy("qid").orderBy(col("d"), col("list_id"))))
          .where(col("pr") <= 8)
          .select(col("qid"), col("list_id"))
        val qcodes = emb.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"),
            SignHash.word(col("e"), 0).as("qw0"), SignHash.word(col("e"), 32).as("qw1"))
        codes.join(broadcast(qprobe), Seq("list_id"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(qcodes), Seq("qid"))
          .withColumn("ham", expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)"))
          .withColumn("srnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ham"), col("vec_id"))))
          .where(col("srnk") <= 50)
          .select("qid", "vec_id")
          .repartition(32)
          .join(emb, "vec_id")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
          .withColumn("rnk", row_number().over(wRank)).where(col("rnk") <= K)
      }, Some(brute))

      // q62's IVF — index build (inside the clock: the build IS the cost)
      // + 100-query probe at nprobe=8/64
      timed("ivf64_probe8", () => {
        val (index, centroids) = graft.ops.Ann.ivfIndex(
          emb.select(col("vec_id"), col("e").as("embedding")), nlist = 64)
        graft.ops.Ann.ivfTopK(index, centroids,
          q.select(col("qid"), col("qe")), k = K, nprobe = 8)
      }, Some(brute))

      // q205/q206's PQ — codebook train (inside the clock: the build IS
      // the cost) + the packed-code map-side ADC scan (q206's shape).
      // Recall vs the COSINE brute answer also charges the L2-vs-cosine
      // metric gap — the honest number for swapping PQ into this harness.
      def qsubAll = graft.ops.Round10n.pqSub(emb.where(col("vec_id") < 100)
        .select(col("vec_id"), col("e").as("embedding")))
        .withColumnRenamed("vec_id", "qid")
      def adcAll() = {
        val (codes, cent) = graft.ops.Round10n.pqCodebook(
          emb.select(col("vec_id"), col("e").as("embedding")))
        graft.ops.Round10n.adcDistances(codes, cent, qsubAll, maxQ = 100)
      }
      val wAdc = Window.partitionBy("qid").orderBy(col("adc_dist"), col("vid"))
      timed("pq_adc", () =>
        adcAll()
          .withColumn("rnk", row_number().over(wAdc)).where(col("rnk") <= K)
          .select(col("qid"), col("vid").as("vec_id")),
        Some(brute))

      // PQ as production runs it: ADC generates top-50 CANDIDATES from
      // the codes, exact cosine re-ranks the 50 raw vectors per query
      // (the IVF-PQ "refine" step — candidate IO stays 8 bytes/vector,
      // exactness returns at the re-rank)
      timed("pq_rerank50", () =>
        adcAll()
          .withColumn("rnk", row_number().over(wAdc)).where(col("rnk") <= 50)
          .join(emb.select(col("vec_id").as("vid"), col("e").as("ve"),
            col("n2").as("vn")), "vid")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("ve")) / sqrt(col("qn") * col("vn")))
          .withColumn("rr", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))))
          .where(col("rr") <= K)
          .select(col("qid"), col("vid").as("vec_id")),
        Some(brute))

      // The production posture: the codebook trains ONCE on a FIXED 5k
      // sample (constant cost at any N), then one encode pass over the
      // corpus — 16 broadcast distances/subvector instead of pq_adc's
      // 3 full training passes. Same re-rank refinement as above.
      timed("pq_strain_rr50", () => {
        val cent = graft.ops.Round10n.pqCodebook(
          emb.where(col("vec_id") < 5000)
            .select(col("vec_id"), col("e").as("embedding")))._2
        val codes = graft.ops.Round10n.pqEncode(
          emb.select(col("vec_id"), col("e").as("embedding")), cent)
        graft.ops.Round10n.adcDistances(codes, cent, qsubAll, maxQ = 100)
          .withColumn("rnk", row_number().over(wAdc)).where(col("rnk") <= 50)
          .join(emb.select(col("vec_id").as("vid"), col("e").as("ve"),
            col("n2").as("vn")), "vid")
          .join(broadcast(q), "qid")
          .withColumn("cos_sim", DotProduct.dot(col("qe"), col("ve")) / sqrt(col("qn") * col("vn")))
          .withColumn("rr", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))))
          .where(col("rr") <= K)
          .select(col("qid"), col("vid").as("vec_id"))
      }, Some(brute))

      // q219's composition at production parameters, on q219's exact
      // integer grid (FLOOR(x·1e6) longs): sample-trained coarse quantizer
      // (64 lists), ONE corpus routing pass, PQ on the RESIDUALS at 16
      // subspaces x `kc` centroids (kc=256 => 128-bit codes, 16 B/vector)
      // trained on the same fixed 5k sample, one encode pass,
      // per-(query, probed-list) LUTs, ADC over the probed lists' codes
      // only (nprobe/nlist of the corpus), optional exact top-50 re-rank.
      //
      // Every argmin is the Lloyd kernel's (graft.ops.Lloyd: primitive
      // long key, shape rule and the wide-encode negative result).
      // Overflow bounds (int64-safe, the q219 discipline): coarse dist
      // <= 64*(2e6)^2 = 2.56e14, *64+j <= 1.7e16; subspace dist <=
      // 4*(4e6)^2 = 6.4e13, *256+j <= 1.7e16; ADC sum <= 16*6.4e13 ~ 1e15.
      def ivfPq(kc: Int, nprobe: Int, rerank: Boolean): DataFrame = {
        val nlist = 64
        val qv = emb.select(col("vec_id"),
            expr("transform(e, x -> CAST(FLOOR(x * 1e6) AS BIGINT))").as("v"))
          .repartition(32).localCheckpoint()
        val (asg, c1) = Lloyd.coarse(qv, qv.where(col("vec_id") < 5000), nlist)
        val resid = asg
          .join(broadcast(c1.withColumnRenamed("j", "list_id")), Seq("list_id"))
          .select(col("vec_id"), col("list_id"),
            zip_with(col("v"), col("c"), (a, b) => a - b).as("r"))
        // explicit 32-way spread: the routing pass ends in a byte-small
        // shuffle AQE would coalesce to ~1 partition, serializing the xkc
        // broadcast-join expansion below onto one task (the q78/q97 lesson).
        // The checkpoint sits on RESID (round 12): both the training
        // explode and the batched encode consume it, and an un-checkpointed
        // resid would replay the corpus routing pass per consumer.
        val residC = resid.repartition(32).localCheckpoint()
        val sub = residC.select(col("vec_id"), col("list_id"),
            posexplode(expr("transform(sequence(0, 15), s -> slice(r, 4 * s + 1, 4))")))
          .withColumnsRenamed(Map("pos" -> "s", "col" -> "v"))
        def pAssign(xs: DataFrame, cs: DataFrame): DataFrame =
          Lloyd.assignCarried(xs, cs, Seq("s"), Seq("vec_id", "list_id", "s"), kc, 4)
        val psample = sub.where(col("vec_id") < 5000)
        val p0 = psample.where(col("vec_id") < kc)
          .select(col("s"), col("vec_id").as("j"), col("v").as("c"))
        val p1 = Lloyd.update(pAssign(psample, p0), p0, Seq("s"), Lloyd.carried(4))
          .localCheckpoint()
        val packed = pAssign(sub.repartition(32).localCheckpoint(), p1)
          .groupBy("vec_id", "list_id")
          .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
            x => x("code")).as("ca"))
          .repartition(32) // same lever for the ADC lookup scan below
        val qq = qv.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val probed = qq.join(broadcast(c1), lit(true))
          .withColumn("cdist", DotProduct.gridDist(col("qv"), col("c")))
          .withColumn("pr", row_number().over(
            Window.partitionBy("qid").orderBy(col("cdist"), col("j"))))
          .where(col("pr") <= nprobe)
          .select(col("qid"), col("j").as("list_id"),
            zip_with(col("qv"), col("c"), (a, b) => a - b).as("qr"))
        val lut = probed.select(col("qid"), col("list_id"),
            posexplode(expr("transform(sequence(0, 15), s -> slice(qr, 4 * s + 1, 4))")))
          .withColumnsRenamed(Map("pos" -> "s", "col" -> "v"))
          .join(broadcast(p1), Seq("s"))
          .select(col("qid"), col("list_id"),
            (col("s") * kc + col("j")).as("idx"), Lloyd.sqDist(4).as("ld"))
          .groupBy("qid", "list_id")
          .agg(transform(array_sort(collect_list(struct(col("idx"), col("ld")))),
            x => x("ld")).as("la"))
        val lookupSum = (0 until 16)
          .map(s => s"element_at(la, CAST(${s * kc} + element_at(ca, ${s + 1}) + 1 AS INT))")
          .mkString(" + ")
        val wAdc = Window.partitionBy("qid").orderBy(col("adc_dist"), col("vid"))
        val adc = packed.join(broadcast(lut), Seq("list_id"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("vid"), expr(lookupSum).as("adc_dist"))
        if (!rerank)
          adc.withColumn("rnk", row_number().over(wAdc)).where(col("rnk") <= K)
            .select(col("qid"), col("vid").as("vec_id"))
        else
          adc.withColumn("rnk", row_number().over(wAdc)).where(col("rnk") <= 50)
            .join(emb.select(col("vec_id").as("vid"), col("e").as("ve"),
              col("n2").as("vn")), "vid")
            .join(broadcast(q), "qid")
            .withColumn("cos_sim", DotProduct.dot(col("qe"), col("ve")) / sqrt(col("qn") * col("vn")))
            .withColumn("rr", row_number().over(
              Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))))
            .where(col("rr") <= K)
            .select(col("qid"), col("vid").as("vec_id"))
      }
      timed("ivfpq128_probe8", () => ivfPq(kc = 256, nprobe = 8, rerank = false), Some(brute))
      timed("ivfpq128_rr50", () => ivfPq(kc = 256, nprobe = 8, rerank = true), Some(brute))
      // PQ codebook-CAPACITY sweep (round 14): the `clustered` regime
      // showed the rr50 recall decay is the fixed-size codebook, not the
      // routing (plain IVF holds 1.000) — these rows measure the capacity
      // axis directly (kc = centroids/subspace: 16 → 4-bit codes, 64 →
      // 6-bit, vs the default 256). Opt-in by name (each pays a full
      // training + encode).
      for (kcv <- Seq(16, 64))
        if (want(s"ivfpq_kc${kcv}_rr50"))
          timed(s"ivfpq_kc${kcv}_rr50", () =>
            ivfPq(kc = kcv, nprobe = 8, rerank = true), Some(brute))
    }
  }

  /** prefix regime (round 13): q238's windowless prefix-signature form vs
    * the round-12 bucketed-window form it replaced, on the ADVERSARIAL
    * corpus that breaks the window: EVERY doc opens with the same 16-token
    * boilerplate (the realistic web-corpus case — shared headers/licence
    * blocks), so the old first-2-token bucket is ONE bucket and its
    * window sorts the whole corpus — full text as the sort key — on a
    * single task. Claim: the new form stays near-linear (per-doc windows,
    * a (p, g) count rollup, a semi-join — a hot PREFIX is a hot combiner
    * GROUP, partial-aggregated map-side, never a hot task); the old form
    * degrades toward single-task serialization as n grows. */
  private def prefixCurve(spark: SparkSession, sizes: Seq[Long]): Unit = {
    println(f"${"pipeline"}%-16s ${"n_docs"}%8s ${"sec"}%8s ${"cacheable"}%12s")
    val boiler = (1 to 16).map(i => s"bp$i").mkString(" ")
    for (n <- sizes) {
      val d = docs(spark, n, "real")
        .withColumn("text", concat(lit(boiler + " "), col("text")))
        .localCheckpoint()
      locally {
        val t0 = System.nanoTime()
        val r = graft.ops.Round12c.prefixCacheStats(d)
          .agg(sum("cacheable_toks")).collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"${"prefix_sig"}%-16s $n%8d $dt%8.2f $r%12d")
      }
      locally { // the round-12 windowed form, kept as the measured control
        def lcpE(a: String, b: String) = expr(
          s"""CASE WHEN $b IS NULL THEN 0L ELSE coalesce(
             |  nullif(array_position(zip_with($a, $b,
             |    (x, y) -> if(x IS NOT NULL AND y IS NOT NULL AND x = y, 1, 0)),
             |    0), 0) - 1,
             |  size($a)) END""".stripMargin).cast("long")
        val t0 = System.nanoTime()
        val t = d.select(col("doc_id"), col("text"),
            split(col("text"), " ").as("tk"))
          .withColumn("bucket", expr("array_join(slice(tk, 1, 2), ' ')"))
        val w = Window.partitionBy("bucket").orderBy("text", "doc_id")
        val r = t.withColumn("prv", lag("tk", 1).over(w))
          .withColumn("nxt", lead("tk", 1).over(w))
          .withColumn("best", greatest(lcpE("tk", "prv"), lcpE("tk", "nxt")))
          .agg(sum("best")).collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"${"prefix_window"}%-16s $n%8d $dt%8.2f $r%12d")
      }
    }
  }

  /** knngraph regime (round 13): q234/q244's build cost and graph RECALL
    * at scale with nlist ∝ N (the q231 posture — per-cell population
    * pinned ~500). Per size: frozen-seed centroids (the graph stages are
    * what the curve prices; production trains on a fixed sample), one
    * probe ranking (×nprobe), per-cell pairwise equi-join, top-3 window;
    * recall measured against brute 3-NN over a 100-vector carve (carve×N
    * — the q243 audit posture). The claim: 2-probe pays ~2× the
    * candidate volume for a recall step-change, and both stay linear-ish
    * in N at pinned cell population (the probe-assign stage is the
    * honest Θ(N·nlist) bend the semdedup curve already names). */
  private def knnGraphCurve(spark: SparkSession, sizes: Seq[Long],
      mkVecs: (SparkSession, Long) => DataFrame = vecs): Unit = {
    println(f"${"pipeline"}%-16s ${"n_vecs"}%8s ${"nlist"}%6s ${"sec"}%8s ${"edges"}%10s ${"recall@3"}%9s")
    for (n <- sizes) {
      val nlist = math.max(8, (n / 500).toInt)
      val qv = mkVecs(spark, n).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(FLOOR(x * 1e6) AS BIGINT))").as("v"))
        .repartition(32).localCheckpoint()
      val cent = qv.where(col("vec_id") < nlist)
        .select(col("vec_id").as("j"), col("v").as("c")).localCheckpoint()
      // audit carve DISJOINT from the seed set: a seed vector is its own
      // cell's center, so auditing seeds inflates recall (its true
      // neighbors are exactly the vectors routed to its cell — measured
      // 0.97 vs 0.45 for a generic carve at 50k/nlist=100)
      val carve = qv.where(col("vec_id") % 97 === 3 && col("vec_id") >= nlist)
        .where(col("vec_id") < nlist + 97 * 100)
        .select(col("vec_id").as("aid"), col("v").as("av"))
      val brute = qv.crossJoin(broadcast(carve))
        .where(col("vec_id") =!= col("aid"))
        .withColumn("d2", DotProduct.gridDist(col("v"), col("av")))
        .withColumn("r", row_number().over(
          Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))))
        .where(col("r") <= 3)
        .collect().map(r => (r.getAs[Long]("aid"), r.getAs[Long]("vec_id"))).toSet
      for (np <- Seq(1, 2)) {
        val t0 = System.nanoTime()
        // probe ranking carries ONLY primitives through the window; the
        // vector payload rejoins by id (the q234/SCALE §12 discipline)
        val pr = qv.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("j"),
            DotProduct.gridDist(col("v"), col("c")).as("cd"))
          .withColumn("probe", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("cd"), col("j"))))
          .where(col("probe") <= np)
          .select(col("vec_id"), col("j").as("list_id"), col("probe"))
          .repartition(32).localCheckpoint()
        val memb = pr.where(col("probe") === 1)
          .join(qv, Seq("vec_id"))
          .select(col("vec_id").as("nbr_id"), col("list_id"), col("v").as("wv"))
          .repartition(32).localCheckpoint()
        val edges = pr.join(qv, Seq("vec_id"))
          .join(memb, Seq("list_id"))
          .where(col("vec_id") =!= col("nbr_id"))
          .withColumn("d2", DotProduct.gridDist(col("v"), col("wv")))
          .withColumn("r", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("nbr_id"))))
          .where(col("r") <= 3)
          .select(col("vec_id"), col("nbr_id"))
          .localCheckpoint()
        val ne = edges.count()
        val got = edges.where(col("vec_id") % 97 === 3 &&
            col("vec_id") >= nlist && col("vec_id") < nlist + 97 * 100)
          .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
        val recall = (got & brute).size.toDouble / math.max(brute.size, 1)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"${s"knngraph_${np}p"}%-16s $n%8d $nlist%6d $dt%8.2f $ne%10d $recall%9.3f")
      }
    }
  }

  /** silh regime (round 14): q247's two silhouette forms, timed and
    * BIT-COMPARED at growing N — the carve×N pairwise pass (the round-13
    * internals, which the DuckDB oracle still replays; the harness's
    * reference) vs the sufficient-statistics form q247 ships
    * (`Round13b.silhStats`: (n_j, Σv, Σv²) per cell), both finished by
    * `Round13b.silhouette`. The identity Σ_m d²(v,m) = n_j·‖v‖² − 2·v·S_j
    * + Q_j is exact in int64, so `equal` must print true at every size;
    * the COST separates: the carve form touches N·|carve| pairs, the
    * stats form one N×64 explode + a |carve|·nlist·64 join. Clustered
    * corpus (the silhouette is the audit you run on data with structure),
    * fixed nlist = 64, carve = 100 vectors. */
  private def silhCurve(spark: SparkSession, sizes: Seq[Long]): Unit = {
    val nlist = 64
    println(f"${"pipeline"}%-12s ${"n_vecs"}%8s ${"nlist"}%6s ${"sec"}%8s ${"equal"}%6s")
    for (n <- sizes) {
      val qv = clusteredVecs(spark, n).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(FLOOR(x * 1e6) AS BIGINT))").as("v"))
        .repartition(32).localCheckpoint()
      val cent = qv.where(col("vec_id") < nlist)
        .select(col("vec_id").as("j"), col("v").as("c")).localCheckpoint()
      val wn = Lloyd.assignNarrow(qv, cent, nlist)
        .select(col("vec_id"), col("list_id"),
          col("v").cast("array<double>").as("vd"))
        .repartition(32).localCheckpoint()
      val carve = wn.where(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("aid"), col("list_id").as("own_list"),
          col("vd").as("av"))
        .limit(100).localCheckpoint()

      def finish(stats: DataFrame): Array[(Long, Long, Double, Double, Double)] =
        Round13b.silhouette(carve, stats)
          .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("own_list"),
            Option(r.getAs[java.lang.Double]("a")).fold(Double.NaN)(_.doubleValue),
            Option(r.getAs[java.lang.Double]("b")).fold(Double.NaN)(_.doubleValue),
            r.getAs[Double]("silhouette")))

      // bit-pattern compare: doubleToLongBits so a null→NaN sentinel
      // compares equal to itself (tuple equality would fail on NaN)
      def keyOf(t: (Long, Long, Double, Double, Double)): String =
        s"${t._1}|${t._2}|${java.lang.Double.doubleToLongBits(t._3)}|" +
          s"${java.lang.Double.doubleToLongBits(t._4)}|${java.lang.Double.doubleToLongBits(t._5)}"
      def timed(nm: String, mk: () => Array[(Long, Long, Double, Double, Double)],
          base: Option[Array[(Long, Long, Double, Double, Double)]])
          : Array[(Long, Long, Double, Double, Double)] = {
        val t0 = System.nanoTime()
        val r = mk()
        val dt = (System.nanoTime() - t0) / 1e9
        val eq = base.map(b => if (r.length == b.length &&
          r.zip(b).forall { case (x, y) => keyOf(x) == keyOf(y) }) "true" else "FALSE")
        println(f"$nm%-12s $n%8d $nlist%6d $dt%8.2f ${eq.getOrElse("  base")}%6s")
        r
      }

      val carveForm = timed("silh_carve", () => finish {
        wn.select(col("vec_id").as("mid"), col("list_id"), col("vd").as("wd"))
          .crossJoin(broadcast(carve))
          .where(col("mid") =!= col("aid"))
          .withColumn("d2", DotProduct.gridDist(col("av"), col("wd")))
          .groupBy("aid", "own_list", "list_id")
          .agg(sum("d2").as("sd2"), count(lit(1)).as("cn"))
          .withColumn("md", col("sd2").cast("double") / col("cn").cast("double"))
          .localCheckpoint()
      }, None)

      timed("silh_stats", () => finish(Round13b.silhStats(wn, carve, decimalAcc = false)),
        Some(carveForm))
    }
  }

  /** Round-15 measurement (verdict #6): candidate VOLUME of the 4×4 LSH
    * band join on dictionary-ranked tids across three hash families —
    * legacy (4i+3), the wrapping-but-correlated 48271·(i+1) interim, and
    * the 69621-power family now in production (`LlmExt2.mhMults`).
    * Reported per (corpus, family, size):
    *  - cand_rows = Σ_bands Σ_buckets C(sz,2) — the rows the band
    *    self-join MATERIALIZES (its shuffle+verify cost), computed
    *    analytically from bucket sizes so the degenerate family's
    *    quadratic blowup is measurable at sizes where actually running
    *    the join would be prohibitive (that blowup is the finding);
    *  - block_pairs = Σ_lang C(n_lang,2) — the all-pairs ceiling;
    *  - cand_pct = cand_rows / block_pairs.
    * The legacy family's degeneracy is vocabulary-size-dependent (it
    * only fails to wrap on SMALL tids), so the adv corpus (31-token
    * vocab — the gate corpus's regime) shows the collapse while real
    * (~66k vocab) shows the families converge once ranks wrap anyway. */
  private def mhFamilyCurve(spark: SparkSession, sizes: Seq[Long],
      regimes: Seq[String]): Unit = {
    // pow = the production family (LlmExt2.mhMults, 69621^(i+1) mod P):
    // multiplicatively unrelated multipliers. wrap's 48271·(i+1) family
    // shares the factor 48271 — every hash is a small-k multiple of the
    // same y = 48271·id mod P, so the 16 argmins stay correlated and
    // band agreement runs far above the S-curve; measured below.
    val families: Seq[(String, Column => Column)] = Seq(
      "legacy" -> (i => lit(4) * i + 3),
      "wrap" -> (i => lit(48271) * (i + 1) % LlmExt2.P),
      "pow" -> (i => element_at(
        array(graft.ops.LlmExt2.mhMults.map(lit): _*), (i + 1).cast("int"))))
    println(f"${"corpus"}%-6s ${"family"}%-7s ${"n_docs"}%8s ${"sec"}%7s ${"cand_rows"}%13s ${"block_pairs"}%13s ${"cand_pct"}%9s")
    for (rg <- regimes; n <- sizes) {
      val d = docs(spark, n, rg).localCheckpoint()
      val toks = d.select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      val tokIds = toks.join(graft.ops.LlmExt2.tokenDict(toks), "tok")
        .groupBy("doc_id", "lang")
        .agg(collect_list(col("tid").cast("long")).as("ids"))
        .localCheckpoint() // both families hash the same id table
      val blockPairs = tokIds.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(sum((col("c") * (col("c") - 1) / 2).cast("long"))).collect()(0).getLong(0)
      for ((fam, mult) <- families; exact <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val mh = tokIds.withColumn("mh", transform(sequence(lit(0), lit(15)),
          i => array_min(transform(col("ids"),
            id => (mult(i) * id + (lit(7) * i + 5)) % LlmExt2.P))))
        // exact = the collision-FREE band key (two radix-P longs per
        // band: lo = mh1 + P·mh2, hi = mh3 + P·mh4, each < P² < 2^63)
        // vs the legacy lossy 131-chain — isolates how much candidate
        // volume is CHAIN collisions rather than minhash agreement
        val sigs =
          if (exact) mh.select(col("lang"), posexplode(transform(
              sequence(lit(0), lit(3)),
              b => struct(
                (element_at(col("mh"), b * 4 + 1)
                  + element_at(col("mh"), b * 4 + 2) * LlmExt2.P).as("lo"),
                (element_at(col("mh"), b * 4 + 3)
                  + element_at(col("mh"), b * 4 + 4) * LlmExt2.P).as("hi")))))
            .select(col("lang"), col("pos").as("band"),
              col("col.lo").as("sig"), col("col.hi").as("sig2"))
          else mh.select(col("lang"),
            posexplode(graft.ops.LlmExt2.bandSigsFromMh(col("mh"))))
            .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
            .withColumn("sig2", lit(0L))
        val candRows = sigs.groupBy("lang", "band", "sig", "sig2")
          .agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("long"))).collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        val pct = 100.0 * candRows / math.max(1L, blockPairs)
        val tag = fam + (if (exact) "+x" else "")
        println(f"$rg%-6s $tag%-9s $n%8d $dt%7.2f $candRows%13d $blockPairs%13d $pct%8.2f%%")
      }
    }
  }

  /** The dedup/similarity pipelines over `regime`'s documents (`pick` =
    * the pipeline names to run, default all). */
  private def pipelineCurve(spark: SparkSession, sizes: Seq[Long], regime: String,
      pick: Option[Seq[String]]): Unit = {
    val all: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash_lsh" -> ((d: DataFrame) =>
        graft.ops.LlmExt2.minhashLshPairs(d, threshold = 0.6)),
      "simhash_blocked" -> ((d: DataFrame) => LlmExt2.simhashPairs(d, 48)),
      "incremental" -> incremental _,
      "prefix_filter" -> prefixFilter _,
      "snm_w8" -> ((d: DataFrame) => Round9b.snmPairs(d, 8)),
      "snm_derived" -> snmDerived _)
    val pipelines = pick.fold(all)(want => all.filter(p => want.contains(p._1)))
    println(f"${"pipeline"}%-16s ${"n_docs"}%8s ${"sec"}%8s ${"pairs"}%10s")
    for ((nm, f) <- pipelines; n <- sizes) {
      val d = docs(spark, n, regime).localCheckpoint()
      val t0 = System.nanoTime()
      val pairs = f(d).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$nm%-16s $n%8d $dt%8.2f $pairs%10d")
    }
  }

  def main(args: Array[String]): Unit = {
    val regime = args.headOption.getOrElse("real")
    val sizes = (if (args.length > 1) args(1) else regime match {
      case "adv"      => "5000,10000,20000"
      case "ann"      => "5000,50000,250000"
      case "kcore"    => "30000,100000,300000,1000000"
      case "semdedup" => "10000,50000,250000"
      case "spans"    => "20000,80000,320000"
      case "prefix"   => "20000,80000,320000"
      case "knngraph" => "10000,50000,250000"
      case "clustered" => "10000,50000,250000"
      case "silh"     => "50000,250000,1000000"
      case "mhfamily" => "20000,80000,320000"
      case _          => "5000,50000,250000"
    }).split(",").map(_.trim.toLong).toSeq
    // optional 3rd arg: csv of the pipelines/variants/corpora to run
    val pick = args.lift(2).map(_.split(",").map(_.trim).toSeq)
    val spark = GraftSession()
    // each regime first warms the session on a 1000-row corpus so the
    // first size isn't charged JVM spin-up
    def warmVecs(mk: (SparkSession, Long) => DataFrame): Unit =
      mk(spark, 1000).selectExpr("sum(element_at(embedding, 1))").collect()
    def warmDocs(r: String): Unit =
      docs(spark, 1000, r).selectExpr("sum(length(text))").collect()
    try regime match {
      case "ann" =>
        warmVecs(vecs)
        annCurve(spark, sizes, pick.fold(Set.empty[String])(_.toSet))
      case "semdedup" => warmVecs(vecs); semdedupCurve(spark, sizes)
      case "spans" => warmDocs("real"); spansCurve(spark, sizes)
      case "prefix" => warmDocs("real"); prefixCurve(spark, sizes)
      case "knngraph" => warmVecs(vecs); knnGraphCurve(spark, sizes)
      case "clustered" =>
        // the round-13 verdict's owed measurement: does cell routing hold
        // recall on data WITH cluster structure (vs the isotropic decay)?
        // Same pipelines, same sizes — only the corpus changes.
        warmVecs(clusteredVecs)
        knnGraphCurve(spark, sizes, clusteredVecs)
        annCurve(spark, sizes,
          pick.fold(Set("ivfpq128_rr50", "ivf64_probe8"))(_.toSet), clusteredVecs)
      case "silh" => warmVecs(clusteredVecs); silhCurve(spark, sizes)
      case "mhfamily" =>
        warmDocs("adv")
        // corpora default to both degeneracy regimes: adv = the 31-token
        // collapse, real = wrap-anyway control
        mhFamilyCurve(spark, sizes, pick.getOrElse(Seq("adv", "real")))
      case "kcore" =>
        spark.read.format("graft-gen").option("rows", "1000").load()
          .agg(sum("id")).collect()
        kcoreCurve(spark, sizes)
      case "snmrecall" =>
        warmDocs("adv")
        // the corpus regime defaults to adv — where the fixed width
        // degenerates; heaps shows the derivation is a no-op on natural
        // statistics
        snmRecall(spark, sizes, args.lift(2).getOrElse("adv"))
      case _ => warmDocs(regime); pipelineCurve(spark, sizes, regime, pick)
    } finally spark.stop()
  }
}
