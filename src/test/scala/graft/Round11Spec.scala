package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 ANN compositions (ops/Round11.scala, ops/Round11b.scala).
  * Locked here:
  *  1. q219 IVF-PQ at nprobe == nlist loses NO candidates: every query
  *     ranks every other vector (the routing knob trades only coverage,
  *     the q62 argument applied to the composition);
  *  2. q219 is deterministic under input repartitioning (codebooks are
  *     argmin-key + floor-mean integer arithmetic — no merge-order
  *     dependence anywhere);
  *  3. q220's multi-table candidate set is a SUPERSET of q52's single
  *     table (table 0 is the identical hyperplane family), so its top-k
  *     cosine at every rank is >= q52's — the OR can only add recall;
  *  4. q221's labels are a valid connected-components output over the
  *     simhash spanning edges: both endpoints of every edge carry the
  *     same label, every label is a component member <= its node, and
  *     labels are canonical fixpoints (label(label) == label).
  */
class Round11Spec extends AnyFunSuite {
  import SharedSpark.{sf01, spark}

  test("q219: full probe (nprobe=nlist) covers every candidate, and the ADC ranking is deterministic under repartition") {
    val emb = Tables.embeddings(spark, sf01)
    val n = emb.count()
    val full = ops.Round11.ivfPqTopK(emb, nprobe = 8, k = n.toInt)
    val perQ = full.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQ.keySet == (0L until 10L).toSet)
    perQ.foreach { case (qid, c) =>
      assert(c == n - 1, s"qid=$qid ranked $c of ${n - 1} candidates at full probe")
    }
    // determinism: a different input partitioning must not move a single
    // ADC distance or rank (integer argmin keys + floor-mean updates have
    // no shuffle-arrival-order dependence)
    val a = ops.Round11.ivfPqTopK(emb, nprobe = 2, k = 5)
      .collect().map(_.toSeq).toSet
    val b = ops.Round11.ivfPqTopK(emb.repartition(7), nprobe = 2, k = 5)
      .collect().map(_.toSeq).toSet
    assert(a == b, "q219 result moved under repartition")
    assert(a.nonEmpty)
  }

  test("q220: OR'd tables dominate q52's single table at every rank") {
    val run = SparkEntry.queries
    val multi = run("q220_lsh_multitable")(spark, sf01).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk")) -> r.getAs[Double]("cos_sim"))
      .toMap
    val single = run("q52_ann_lsh_bucketed")(spark, sf01).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk")) -> r.getAs[Double]("cos_sim"))
      .toMap
    assert(multi.nonEmpty && single.nonEmpty)
    // table 0 of q220 IS q52's hyperplane family, so q220's candidate set
    // per query is a superset: the k-th best cosine can only improve.
    // (Exact >=, no epsilon: identical candidates produce identical IEEE
    // cosines in both pipelines — same DotProduct expression.)
    single.foreach { case ((qid, rnk), cs) =>
      multi.get((qid, rnk)).foreach { cm =>
        assert(cm >= cs, s"qid=$qid rnk=$rnk: multi $cm < single $cs")
      }
    }
    // and the OR must actually fire: some survivor was proposed by >1 table
    val nt = run("q220_lsh_multitable")(spark, sf01)
      .agg(max("n_tables")).collect()(0).getLong(0)
    assert(nt >= 2, s"no candidate was proposed by more than one table (max=$nt)")
  }

  test("q221: labels are a valid CC output over the simhash spanning edges") {
    val labels = SparkEntry.queries("q221_cc_spanning")(spark, sf01)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    labels.foreach { case (node, lbl) =>
      assert(lbl <= node, s"label $lbl > node $node")
      assert(labels.get(lbl).contains(lbl), s"label $lbl of $node is not a canonical fixpoint")
    }
    // recompute the spanning edges exactly as the query does and check
    // both endpoints of every edge landed in the same component
    val edges = ops.LlmExt2.simhashPairs(Tables.documents(spark, sf01), 16)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across labels ${labels(a)}/${labels(b)}")
    }
  }

  test("q223 caveat is real: an insert+delete shift at lev<=2 evades 3-segment pigeonhole blocking") {
    // The Scaladoc on q223 documents that 3-segment blocking is complete
    // only for substitution-dominated lev<=2 (the declared data's shape,
    // proven per-run by the brute oracle) and that a coordinated
    // insert+delete can shift every segment on general strings. Lock that
    // as a measured property, not just a comment: b is a (delete first
    // char, append one char) edit of a — lev(a, b) == 2 — yet every
    // 6-char segment differs, so the (seg_idx, seg) equi-join yields no
    // candidate. The production form for shift-heavy data is the
    // deletion-neighborhood expansion.
    import spark.implicits._
    val a = "ABCDEFGHIJKLMNOPQR" // 18 chars, 3 segments of 6
    val b = a.substring(1) + "Z"
    val df = Seq((0L, a), (1L, b)).toDF("ck", "nm")
    assert(df.select(levenshtein(col("nm"), lit(a))).collect()
      .map(_.getInt(0)).max == 2)
    val segs = df.select(col("ck"),
        posexplode(array(substring(col("nm"), 1, 6),
          substring(col("nm"), 7, 6), substring(col("nm"), 13, 6))))
      .withColumnsRenamed(Map("pos" -> "seg_idx", "col" -> "seg"))
    val cand = segs.as("x").join(segs.as("y"),
        col("x.seg_idx") === col("y.seg_idx") &&
          col("x.seg") === col("y.seg") && col("x.ck") < col("y.ck"))
    assert(cand.count() == 0, "shifted pair should evade segment blocking")
    // and the deletion-neighborhood (delete any one char from each side,
    // join on the variant) DOES catch a lev<=1-per-side shift like this
    val dels = df.select(col("ck"), explode(expr(
        "transform(sequence(1, length(nm)), i -> concat(substring(nm, 1, i - 1), substring(nm, i + 1)))"))
      .as("variant")).distinct()
    val caught = dels.as("x").join(dels.as("y"),
      col("x.variant") === col("y.variant") && col("x.ck") < col("y.ck"))
    assert(caught.count() > 0, "deletion neighborhood should catch the shifted pair")
  }
}
