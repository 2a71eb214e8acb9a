package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.DotProduct

/** The integer-grid k-means (Lloyd) step: the one argmin + FLOOR-mean
  * update behind every exact vector pipeline — the q205/q206/q254 PQ
  * codebooks, the q219/q228/q246 IVF-PQ, the q231–q248 coarse quantizer,
  * the s35 streaming twin (which must match batch q231 bit for bit, so it
  * calls the same argmin) and the ScaleCurve regimes.
  *
  * Arithmetic contract, replayed verbatim by the DuckDB oracles: vectors
  * live on the 1e6-quantized long grid; distances are exact int64
  * squared-L2 sums; the argmin is ONE encoded key `dist · width + j`
  * (width > every centroid id j, so an exact-distance tie goes to the
  * lower j; each caller's dist bound keeps the key inside int64); the
  * update is FLOOR(sum / n) through an exact-double division (sums
  * < 2^53), and a centroid no point picks keeps its previous value. No
  * float decides anything ⇒ bit-identical codebooks, codes and distances
  * in both engines.
  *
  * Argmin shape — which one wins where (measured r11–r16):
  *  - The aggregate carries ONLY primitive mins. min over an array, a
  *    struct, min_by or first(array) plans a SortAggregate that sorts the
  *    ×k candidate expansion WITH its vector payload (probed round 11,
  *    SCALE.md §12; 28–77 s at 5k vectors in ScaleCurve's ann regime).
  *  - Narrow subvectors (4–8 dims, the PQ stages) use [[assignCarried]]:
  *    the dims ride as min(element_at(v, i)) columns — constant within
  *    their group, so the min IS the subvector — and the update needs no
  *    rejoin (r15 for q205, r16 for q219's PQ stage).
  *  - Full 64-dim vectors (the coarse stage) use [[assignNarrow]]: key
  *    only, payload rejoined by vec_id. r16 carried the 64 dims instead
  *    and reverted it: the 65-slot partial aggregate lost at bench scale
  *    (q219 2.93→3.49 s, q246 2.54→3.21 s warm floors, interleaved A/B),
  *    tied at 250k vectors, and was 1.7× worse at semdedup 250k/500 lists.
  *  - Wide encode (all 16 subspace keys per (vector, j) row) took 216.9 s
  *    (NLJ) / 181.2 s (BHJ) against 37–38 s narrow at 250k×64: its 16-min
  *    HashAggregate generated a function too large to JIT.
  *
  * `Ann.assignVectors` stays separate: its argmin is over DOUBLE
  * distances, which cannot carry j in an encoded key, so it runs the
  * documented two-pass form (min distance, then min list_id).
  */
object Lloyd {

  /** Σ_i (v[i] − c[i])² over `dim` dims, UNROLLED into plain element_at
    * arithmetic — a HOF fold is interpreted per (row × centroid) and
    * dominated training (the q206 ADC lesson); unrolled stays in codegen. */
  def sqDist(dim: Int): Column = expr((1 to dim)
    .map(i => s"(element_at(v, $i) - element_at(c, $i)) * (element_at(v, $i) - element_at(c, $i))")
    .mkString(" + "))

  /** Nearest centroid per full vector, NARROW key: (vec_id, v) against the
    * (j, c) codebook → (vec_id, v, list_id). One broadcast of the ≤nlist
    * centroids — the .limit() makes the build bound structural for the NLJ
    * gate (centroids come from filters/checkpoints whose maxRows the
    * optimizer can't see) — and a map-side-combinable min over the key
    * alone; the payload rejoins by id. */
  def assignNarrow(v: DataFrame, cent: DataFrame, nlist: Int): DataFrame =
    v.crossJoin(broadcast(cent.limit(nlist)))
      .withColumn("key", DotProduct.gridDist(col("v"), col("c")) * lit(nlist.toLong) + col("j"))
      .groupBy("vec_id")
      .agg(min("key").as("key"))
      .select(col("vec_id"), (col("key") % nlist).as("list_id"))
      .join(v, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("list_id"))

  /** Nearest centroid per subvector row, CARRIED dims: `sub` rows (`by`
    * columns + a `dim`-long v) equi-join the broadcast codebook on `on`
    * (its other columns: j, c) → `by` ++ (code, dist, v1..v`dim`). */
  def assignCarried(sub: DataFrame, cent: DataFrame, on: Seq[String],
      by: Seq[String], width: Int, dim: Int): DataFrame =
    sub.join(broadcast(cent), on)
      .withColumn("key", sqDist(dim) * lit(width.toLong) + col("j"))
      .groupBy(by.head, by.tail: _*)
      .agg(min("key").as("key"),
        (1 to dim).map(i => min(expr(s"element_at(v, $i)")).as(s"v$i")): _*)
      .select(by.map(col) ++ Seq((col("key") % width).as("code"),
        expr(s"key DIV $width").as("dist")) ++ carried(dim): _*)

  /** The v1..v`dim` columns [[assignCarried]] emits, as [[update]] dims. */
  def carried(dim: Int): Seq[Column] = (1 to dim).map(i => col(s"v$i"))

  /** One Lloyd update: per (`by`, centroid) FLOOR(mean) of each `dims`
    * column over the points whose `code` column picked it, all dims in
    * ONE aggregation (one shuffle to the codebook — the q205 rework);
    * centroids no point picked keep their `prev` value. → (`by`, j, c). */
  def update(assigned: DataFrame, prev: DataFrame, by: Seq[String],
      dims: Seq[Column], code: String = "code"): DataFrame = {
    val sums = dims.zipWithIndex.map { case (d, i) => sum(d).as(s"sx${i + 1}") }
    val newC = assigned
      .groupBy(by.map(col) :+ col(code).as("j"): _*)
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(by.map(col) ++ Seq(col("j"), array(dims.indices.map(i =>
        floor(col(s"sx${i + 1}").cast("double") / col("n")).cast("long")): _*)
        .as("cnew")): _*)
    prev.join(newC, by :+ "j", "left")
      .select(by.map(col) ++ Seq(col("j"), coalesce(col("cnew"), col("c")).as("c")): _*)
  }

  /** The coarse quantizer on 64-dim (vec_id, v) vectors: seeds = the first
    * nlist vectors, one Lloyd step, then every vector's final assignment.
    * Returns (assigned (vec_id, v, list_id), c1 (j, c)); only c1 is
    * checkpointed — it feeds the final assign, the update fallback and
    * callers' probes, and an un-checkpointed codebook replays its training
    * lineage per consumer (the q205 lesson). */
  def coarse(qv: DataFrame, nlist: Int): (DataFrame, DataFrame) = coarse(qv, qv, nlist)

  /** [[coarse]] trained on `train` (a fixed sample of `qv`, the production
    * posture) and applied to all of `qv`. */
  def coarse(qv: DataFrame, train: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    val c0 = train.where(col("vec_id") < nlist)
      .select(col("vec_id").as("j"), col("v").as("c"))
    val c1 = update(assignNarrow(train, c0, nlist), c0, Nil,
      (1 to 64).map(i => expr(s"element_at(v, $i)")), code = "list_id").localCheckpoint()
    (assignNarrow(qv, c1, nlist), c1)
  }
}
