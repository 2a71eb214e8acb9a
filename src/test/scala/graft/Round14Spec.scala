package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 additions (ops/Round14.scala). Locked here:
  *  1. q251 IS s37: the declared query's lifecycle partition (live /
  *     reclaimed cks) equals an actual s37 ingest replay — two
  *     chunkStoreBatch admissions (base, edited delta) followed by
  *     compactChunkStore — set-for-set, on the same data. This is the
  *     bridge that puts the streaming chunk-store's compaction semantics
  *     under the DuckDB oracle (the query side) while staying
  *     byte-faithful to the filesystem lifecycle (this replay).
  *  2. q252's candidate sets NEST across band levels (a matching 8-row
  *     band is two matching 4-row bands), the curve is non-degenerate
  *     (the flat-curve failure this query's hash family was rebuilt to
  *     avoid: affine multipliers ≤ 67 never wrap mod 104729 on small
  *     tids, so all 16 "minhashes" pick the same argmin and every level
  *     produces identical candidates), and recall is monotone.
  */
class Round14Spec extends AnyFunSuite with TempDirs {
  import SharedSpark.{sf01, spark}

  test("q251 == s37 replay: reclaimed set matches compactChunkStore; live set matches the compacted store") {
    val docs = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("source"), col("text"))
    val edited = ops.Round14.editedDelta(docs)
    assert(edited.count() > 0, "edit delta is empty — the lifecycle audit is vacuous")

    // the real s37 lifecycle: admit v0 (all docs), admit v1 (edited delta),
    // then compact — reclaimed = what compaction would delete
    val dir = tempDir("q251s37").toString
    streaming.Demos.chunkStoreBatch(docs, dir, 0L)
    streaming.Demos.chunkStoreBatch(edited, dir, 1L)
    val reclaimed = streaming.Demos.compactChunkStore(spark, dir)
      .collect().map(r => (r.getAs[String]("ck"), r.getAs[Long]("ctoks"))).toSet

    // the declared query's partition of the same two-version store
    val (liveRefs, allRefs, deadCk) = ops.Round14.lifecycleParts(docs)
    val dead = allRefs.select("ck", "ctoks").distinct()
      .join(deadCk, Seq("ck"), "left_semi")
      .collect().map(r => (r.getAs[String]("ck"), r.getAs[Long]("ctoks"))).toSet
    assert(dead == reclaimed,
      s"q251 dead set diverges from s37 compaction: onlyQuery=${(dead -- reclaimed).take(3)} onlyS37=${(reclaimed -- dead).take(3)}")
    assert(dead.nonEmpty, "no chunk was reclaimed — the edit plant is degenerate")

    val live = liveRefs.select("ck").distinct()
      .collect().map(_.getString(0)).toSet
    val compacted = spark.read.parquet(s"$dir/compacted/v=1")
      .select("ck").collect().map(_.getString(0)).toSet
    assert(live == compacted,
      s"q251 live set diverges from the compacted store: onlyQuery=${(live -- compacted).take(3)} onlyStore=${(compacted -- live).take(3)}")
    assert(live.intersect(dead.map(_._1)).isEmpty, "a ck is both live and reclaimed")
    // surgical reclaim: an edit kills O(edit-window) chunks, not O(doc) —
    // far fewer chunks die than the edited docs' full chunk count
    val editedV0Chunks = ops.Round14.chunkRefs(docs)
      .join(edited.select("doc_id"), Seq("doc_id"), "left_semi").count()
    assert(dead.size < editedV0Chunks,
      s"reclaim is not surgical: ${dead.size} dead of $editedV0Chunks edited-doc chunks")
  }

  test("q252: candidate sets nest across band levels; curve non-degenerate and monotone") {
    val (exact, cand) = ops.Round14.bandCurveParts(spark, sf01)
    val truth = exact.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(truth.nonEmpty, "no ground-truth pairs at Jaccard >= 0.4 — the curve is vacuous")
    val byLevel = cand.collect()
      .map(r => (r.getAs[Int]("nbands"),
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val levels = Seq(2, 4, 8, 16)
    val sets = levels.map(b => byLevel.getOrElse(b, Set.empty[(Long, Long)]))
    // true r-tuple matches nest: band j at level b = bands 2j, 2j+1 at 2b
    for (i <- 0 until 3)
      assert(sets(i).subsetOf(sets(i + 1)),
        s"candidates at ${levels(i)} bands not a subset of ${levels(i + 1)}: ${(sets(i) -- sets(i + 1)).take(3)}")
    // non-degenerate: the 16×1 level must strictly widen the 2×8 level
    // (the flat-curve regression guard)
    assert(sets(0).size < sets(3).size,
      s"flat curve: ${sets(0).size} == ${sets(3).size} candidates at 2 and 16 bands — hash family not permuting")
    // recall monotone (follows from nesting, asserted on the measured sets)
    val recalls = sets.map(s => s.intersect(truth).size.toDouble / truth.size)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: $recalls")
    assert(recalls.last > recalls.head,
      s"recall flat across the whole curve: $recalls")
  }

  test("q253: calibration table == a full JVM replay (quantized-double recipe, bit-exact)") {
    val docsT = ops.Round14.shingleDocs(spark, sf01)
    val m = docsT.join(ops.Round14.shingleMinhash(docsT), Seq("doc_id", "lang"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Seq[String]]("toks").toSet, r.getAs[Long]("sz"),
        r.getAs[Seq[Long]]("mh").toArray))
    val byBucket = (for {
      a <- m; b <- m
      if a._2 == b._2 && a._1 < b._1
    } yield {
      val k = a._5.zip(b._5).count { case (x, y) => x == y }.toLong
      val nc = a._3.intersect(b._3).size.toLong
      val jtrue = nc.toDouble / (a._4 + b._4 - nc).toDouble
      val est = k / 16.0
      val bucket = math.min(math.floor(jtrue * 10).toLong, 9L)
      (bucket, k, math.floor(jtrue * 1e9).toLong,
        math.floor(math.abs(est - jtrue) * 1e9).toLong)
    }).groupBy(_._1).view.mapValues { g =>
      val n = g.length.toLong
      (n, g.map(_._2).sum.toDouble / (n * 16).toDouble,
        g.map(_._3).sum.toDouble / n.toDouble / 1e9,
        g.map(_._4).sum.toDouble / n.toDouble / 1e9)
    }.toMap
    val got = SparkEntry.queries("q253_mh_estimator")(spark, sf01).collect()
      .map(r => r.getAs[Long]("bucket") -> (r.getAs[Long]("n_pairs"),
        r.getAs[Double]("avg_est"), r.getAs[Double]("avg_true"),
        r.getAs[Double]("mae"))).toMap
    assert(got == byBucket,
      s"calibration diverges from the JVM replay: onlyQuery=${(got.toSet -- byBucket.toSet).take(2)} onlyJvm=${(byBucket.toSet -- got.toSet).take(2)}")
    // non-vacuous: several populated deciles, and a real estimator error
    // (a 16-hash budget cannot be exact on continuous Jaccard)
    assert(byBucket.size >= 3, s"only ${byBucket.size} buckets populated")
    assert(byBucket.values.exists(_._4 > 0.01), "MAE ~0 everywhere — table is vacuous")
  }
}
