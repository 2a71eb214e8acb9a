package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotProduct

/** IVF (inverted-file) approximate nearest neighbor — the second two-stage
  * ANN shape SCALE.md §5 names (q52 is the LSH-bucketed one): a coarse
  * quantizer of `nlist` k-means centroids partitions the vectors into
  * inverted lists; each query ranks cosine only within its `nprobe`
  * nearest lists.
  *
  * Scale posture: centroids are broadcast-scale (nlist × dim doubles) — the
  * vector side is never self-joined; the work is broadcast joins plus a
  * per-list ranking window keyed by (query, list), so the shuffle volume is
  * O(N + Q·N·nprobe/nlist), never O(N²). `ivfTopK` additionally broadcasts
  * the probed QUERY table (Q × nprobe rows with embeddings — query-scale,
  * not centroid-scale), which assumes Q is broadcast-sized; `ivfTopKLargeQ`
  * lifts that by shuffle-joining on list_id. At 100 TB: nlist 10⁴–10⁵, the
  * assignment is one broadcast-join pass, and the per-list top-k uses the
  * same partial top-k aggregation AQE already applies to window-rank.
  *
  * Determinism: seeds are the nlist smallest vec_ids; one Lloyd step with
  * exact tie-breaks (min distance, then min list id); all arithmetic is
  * the codegen'd DotProduct. `nprobe == nlist` probes every list, which
  * must reproduce exact brute-force top-k bit-for-bit (AnnIvfSpec locks
  * this), so the recall knob provably trades only coverage, not math.
  */
object Ann {

  /** Mean per dimension of an exploded (id, pos, value) frame, re-assembled
    * into centroid arrays keyed by `idCol`.
    *
    * The per-dimension sum goes through an exact DECIMAL(38,18) bridge (the
    * q43 recipe): a raw double `avg()` merges partial sums in shuffle
    * arrival order, so boundary vectors could flip inverted lists across
    * runs/partition layouts. Decimal addition is associative and
    * commutative, so the quantized-to-1e-18 mean is identical under every
    * merge order — any deterministic centroid is a valid centroid, and this
    * keeps `ivfTopK` reproducible at partial nprobe too (the nprobe==nlist
    * exactness proof never depended on centroid values). */
  private def meanVectors(exploded: DataFrame, idCol: String): DataFrame =
    exploded
      .groupBy(col(idCol), col("pos"))
      // count(col), not count(lit(1)): sum() skips NULL elements, so the
      // divisor must too or a NULL embedding element would silently shrink
      // the mean — preserves avg()'s NULL-exclusion semantics.
      .agg((sum(col("col").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double") / count(col("col"))).as("m"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("ce"))

  /** Assign (vec_id, e, n2) vectors to the nearest centroid of
    * (list_id, ce, ...): the index-build assignment pass, public so the
    * streaming ingest twin (s34) assigns micro-batches against a FROZEN
    * centroid table with bit-identical argmin + tie-break (min distance,
    * then min list_id) — vectors ingested incrementally land in exactly
    * the lists a batch build would pick. One broadcast of the nlist-row
    * centroid table; the vector side is never shuffled. */
  def assignVectors(emb: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.select(col("list_id"), col("ce"))
    def dist = col("n2") + DotProduct.norm2(col("ce")) - lit(2.0) * DotProduct.dot(col("e"), col("ce"))
    // Argmin in two PRIMITIVE-aggregate passes instead of a per-vector
    // window: the window (and equally a min(struct) — both plan as
    // sort-based operators) shuffles the ×nlist broadcast expansion WITH
    // the 512-byte vector payload, N·nlist·|e| bytes per assignment pass
    // (measured 123 s at 250k×64 on the ScaleCurve ann regime; at 100 TB
    // it is the index build's death). Pass 1 reduces the map-side
    // expansion to one double per vector through HashAggregate; pass 2
    // recomputes the SAME deterministic expression (identical codegen
    // tree ⇒ bit-identical doubles), keeps the exact minimum, and breaks
    // exact-distance ties on min list_id — the same (dist, list_id)
    // argmin the window computed, row for row.
    // A vector with a null embedding element has NULL distance to every
    // centroid: bd = NULL, the `dist === bd` filter drops it, and the
    // inner join would silently shrink the index (ADVICE round 11). The
    // guard lives at INGEST instead — [[guardedNorm2]] raises on the first
    // malformed vector when the (vec_id, e, n2) projection materializes
    // (ivfIndex checkpoints it; the s34 streaming ingest writes it) — so
    // this hot argmin path stays exactly the broadcast HashAggregate shape
    // AnnIvfSpec locks (a left join + null-check here demoted the final
    // assignment join to SortMergeJoin).
    val best = emb.join(broadcast(cs), lit(true))
      .groupBy("vec_id").agg(min(dist).as("bd"))
    emb.join(best, Seq("vec_id"))
      .join(broadcast(cs), lit(true))
      .where(dist === col("bd"))
      .groupBy("vec_id").agg(min("list_id").as("list_id"))
      .join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("n2"), col("list_id"))
  }

  /** norm² with a loud-failure guard (ADVICE round 11): a null embedding
    * element nulls the distance fold against EVERY centroid, and the
    * argmin's `dist === bd` filter then silently drops the vector from
    * the index — malformed input must fail loudly instead of shrinking
    * the index. Raises on the first malformed vector when the ingest
    * projection materializes; healthy rows pay one null check. */
  private[graft] def guardedNorm2(e: Column, id: Column): Column =
    when(DotProduct.norm2(e).isNotNull, DotProduct.norm2(e))
      .otherwise(raise_error(concat(
        lit("Ann ingest: vec_id "), id,
        lit(" has a NULL embedding element — the vector would silently vanish from the index")))
        .cast("double"))

  /** Build the IVF index: (vec_id, e, n2, list_id) plus the centroid table
    * (list_id, ce, cn2). `vectors` must have (vec_id, embedding). */
  def ivfIndex(vectors: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    // localCheckpoint: the (vec_id, e, n2) projection feeds the seed pick
    // and BOTH assignment passes — materialize it once instead of
    // re-scanning (and re-folding norms over) the source per branch; the
    // production analog of persisting the vector table during index build.
    val emb = vectors
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("n2", guardedNorm2(col("e"), col("vec_id")))
      .localCheckpoint()
    // deterministic seeds: the nlist smallest vec_ids
    val seeds = emb.orderBy("vec_id").limit(nlist)
      .select(row_number().over(Window.orderBy("vec_id")).cast("long").as("list_id"),
        col("e").as("ce"))
    def assign(cent: DataFrame): DataFrame = assignVectors(emb, cent)
    // one Lloyd refinement over the seed assignment (k-means step); lists
    // that lose every vector keep their seed centroid. Centroid-scale
    // tables: keep even these joins broadcast (left outer + BuildRight).
    val means = meanVectors(
      assign(seeds).select(col("list_id"), posexplode(col("e"))), "list_id")
    val refined = seeds.withColumnRenamed("ce", "seed_ce")
      .join(broadcast(means), Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("ce"), col("seed_ce")).as("ce"))
    // .limit(nlist) is a NO-OP (refined is the nlist seed rows left-joined
    // on the unique list_id) that makes the centroid table's bound
    // STRUCTURAL, so PlanAudit's nested-loop gate accepts every
    // `join(broadcast(centroids), lit(true))` by plan shape.
    val centroids = refined.withColumn("cn2", DotProduct.norm2(col("ce"))).limit(nlist)
    (assign(centroids), centroids)
  }

  /** Top-k cosine neighbors for each query vector, probing the `nprobe`
    * nearest inverted lists. `queries` must have (qid, qe).
    *
    * ASSUMES the query set is broadcast-scale: the probed table it ships to
    * every executor is Q × nprobe rows WITH the query embeddings — that is
    * query-scale, not centroid-scale. Fine for the interactive-search shape
    * (Q up to ~10⁵ × dim doubles); for batch query sets beyond broadcast
    * range use [[ivfTopKLargeQ]], which shuffle-joins on list_id instead. */
  def ivfTopK(
      index: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    ivfTopKImpl(index, centroids, queries, k, nprobe, broadcastProbed = true)

  /** [[ivfTopK]] for query sets too large to broadcast (e.g. all-vs-all
    * re-ranking of a 100 TB corpus against itself): identical semantics and
    * tie-breaks, but the probed (qid, qe, list_id) table meets the index in
    * a shuffle join keyed by list_id, so neither side is ever collected to
    * one place. Only the centroid table (nlist-scale) is still broadcast.
    * AnnIvfSpec locks row-identical output against the broadcast form. */
  def ivfTopKLargeQ(
      index: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    ivfTopKImpl(index, centroids, queries, k, nprobe, broadcastProbed = false)

  private def ivfTopKImpl(
      index: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, broadcastProbed: Boolean): DataFrame = {
    val q = queries
      .select(col("qid"), col("qe").cast("array<double>").as("qe"))
      .withColumn("qn", DotProduct.norm2(col("qe")))
    val wProbe = Window.partitionBy("qid").orderBy(col("dist"), col("list_id"))
    val probed = q.join(broadcast(centroids), lit(true))
      .withColumn("dist", col("qn") + col("cn2") - lit(2.0) * DotProduct.dot(col("qe"), col("ce")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("list_id"))
    val wRank = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
    val probeSide = if (broadcastProbed) broadcast(probed) else probed
    index.join(probeSide, Seq("list_id"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", DotProduct.dot(col("qe"), col("e")) / sqrt(col("qn") * col("n2")))
      .withColumn("rnk", row_number().over(wRank))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("list_id"), col("cos_sim"),
        col("rnk").cast("int").as("rnk"))
  }
}
