package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Production dedup step on top of the near-dup pair producers (q40/q46/
  * q47/q48): turn pairs into duplicate CLUSTERS via connected components,
  * then pick one canonical doc per cluster. Iterative min-label
  * propagation — the standard Spark shape for CC without a graph library:
  * each iteration is edge-propagation PLUS a pointer-jumping shortcut
  * (label ← label-of-label), lineage truncated with localCheckpoint, loop
  * ends at fixpoint. Deterministic (labels are min doc ids, no
  * randomness), so safe to use in reproducible pipelines.
  *
  * At 100 TB: edge-propagation alone needs O(diameter) rounds — fine for
  * near-clique dup clusters, pathological for chains (round-4 measurement:
  * each round is ~1 s of fixed job overhead regardless of data size, and a
  * chained-shingle corpus can produce long paths). The label-of-label
  * shortcut doubles the reach per round, so convergence is
  * O(log diameter): a 64-node path converges in ~7 rounds instead of 63
  * (DedupClustersSpec locks the round count).
  */
object Dedup {

  /** @param pairs two-column DataFrame (doc_a, doc_b) of near-dup pairs.
    *   Callers should pass DISTINCT pairs (every producer here does — the
    *   LSH/blocked candidate generators all end in a distinct or a
    *   groupBy): duplicate edges are correctness-harmless (every consumer
    *   min-folds) but would inflate each round's propagation join.
    * @return (node, label) — label is the smallest doc_id in the
    *         connected component
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Checkpoint the pairs BEFORE the direction-doubling union: the two
    // union branches are separate executions of the pairs lineage, which
    // for the LSH producers is the whole verify join — un-checkpointed it
    // ran TWICE here (measured: edges init was ~1.9 s of q78's ~5.4 s warm,
    // vs ~0.9 s for one verify pass). The reversal union itself is narrow
    // (no shuffle: the old per-union `distinct` was redundant — forward and
    // reversed copies of distinct a<b pairs cannot collide), so each CC
    // round replays only a cheap projection-union of checkpointed rows.
    val p0 = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    val edges = p0
      .unionAll(p0.select(col("dst").as("src"), col("src").as("dst")))

    // Seed labels with min(self, direct neighbors) rather than self: the
    // groupBy replaces the identity seed's distinct (same shuffle, same
    // checkpoint job), and star/clique components — the common near-dup
    // cluster shape — are then fully labeled BEFORE round 1, so the
    // seed-level consistency check below ends the loop with ZERO rounds.
    // Label values stay component NODES (min over self+neighbors), which
    // the shortcut join requires.
    // (Round 10 measured a 2-hop seed — one pointer jump folded into the
    // seed job via union-then-regroup. It cut round-1 improvements ~4×
    // but removed NO round on the bench graph: the deep-chain stragglers
    // that force round 2 sit beyond 2 hops either way, so the extra seed
    // shuffle was pure cost and the plain 1-hop seed stays.)
    var labels = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint()

    // Convergence test, EXACT and round-free (r16 opt): labels are at the
    // min-label fixpoint iff every edge's endpoints carry EQUAL labels —
    // label values are always member ids of the node's own component and
    // per-node monotone non-increasing, so for a component with min id m,
    // l(m) <= m and every label >= m; all-equal therefore forces the
    // common value to be m. The previous scheme read convergence out of an
    // accumulator fed by a per-row UDF on the round output, which (a)
    // needed one extra full ROUND that improved nothing just to observe
    // acc == 0 — ~1 s of pure job overhead per declared CC query at bench
    // scale — and (b) wrapped every emitted row in an interpreted Scala
    // UDF, breaking whole-stage codegen of the round's final projection.
    // On a small graph the check is ~2 jobs: p0 (one direction suffices;
    // equality is symmetric) probes the labels TWICE in one pipelined
    // stage, and the two broadcast builds are the same bare checkpointed
    // plan with the same key, so ReuseExchange collapses them to one.
    // The broadcast is DATA-ADAPTIVE, not a blanket hint: one cheap count
    // on the already-checkpointed pairs (labels ≤ 2·|pairs| rows, so
    // 2M pairs bounds the build at ~tens of MB) gates it — beyond that
    // the same plan runs partitioned joins, which is still strictly
    // cheaper than the full confirming round it replaces (hint-free at
    // bench scale, AQE materializes 2 extra shuffle-stage jobs per check
    // — measured q221 31 → 37 jobs — hence the gate instead of no hint).
    // The check also runs on the SEED, so clique/star graphs — the common
    // near-dup cluster shape, fully labeled by the 1-hop seed — now run
    // ZERO rounds (DedupClustersSpec locks that).
    val smallGraph = p0.count() < 2e6.toLong
    def consistent(l: DataFrame): Boolean = {
      def side(a: String) = if (smallGraph) broadcast(l.as(a)) else l.as(a)
      p0.join(side("x"), col("src") === col("x.node"))
        .join(side("y"), col("dst") === col("y.node"))
        .where(col("x.label") =!= col("y.label"))
        .isEmpty
    }

    var converged = consistent(labels)
    var i = 0
    while (!converged && i < maxIter) {
      val propagated = labels
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
      // Pointer jumping: every label is itself a node (component minima are
      // member ids), so node can adopt its label's label — information
      // travels 2^k hops after k rounds instead of k.
      val shortcut = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.node"))
        .select(col("a.node").as("node"), col("b.label").as("label"))
      val once = labels
        .select(col("node"), col("label"))
        .unionAll(propagated)
        .unionAll(shortcut)
        .groupBy("node")
        .agg(min("label").as("label"))
      // Second jump WITHIN the round, on the just-updated labels: reach per
      // round goes from 2(r+1) to 4(r+1) hops, and the dominant cost of a
      // round at bench scale — the fixed localCheckpoint/job overhead, ~1 s
      // regardless of data size — is paid once for both jumps. At cluster
      // scale this is the same total join work in ~half the sync barriers.
      // After the groupBy every node has EXACTLY ONE row, so a jump is a
      // pure function composition: inner-join label→(that node's label) and
      // take the target's label (labels are monotone: l(l(x)) <= l(x), and
      // every label value is itself a node of the same component, so the
      // join never drops rows and needs no re-group). Two composed jumps
      // square the once-reach twice: reach goes 2(r+1) → 8(r+1) per round
      // for two extra (broadcast-sized at bench, shuffle at scale) joins —
      // one whole round of checkpoint+job overhead cheaper on long chains.
      // (A pure function-composition jump — join once's label to its own
      // node without re-grouping — would save a shuffle here, but any plan
      // that puts the bare self-join of this union+groupBy subplan on top
      // trips a Catalyst union-constraint rewrite [NoSuchElementException
      // in UnionBase.rewriteConstraints]; the union-then-regroup shape
      // below is the one the analyzer accepts.)
      val next = once
        .unionAll(once.as("a")
          .join(once.select(col("node").as("jn"), col("label").as("jl")),
            col("a.label") === col("jn"))
          .select(col("a.node").as("node"), col("jl").as("label")))
        .groupBy("node")
        .agg(min("label").as("label"))
        .localCheckpoint()
      labels = next
      converged = consistent(labels)
      i += 1
    }
    // Unconverged labels would silently over- or under-dedup downstream
    // (dedupByCluster keeps docs whose cluster merge never propagated).
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters: min-label propagation did not converge within $maxIter iterations; " +
          "raise maxIter (near-dup graphs converge in O(diameter) rounds)")
    labels
  }

  /** Keep the canonical (min-id) doc per cluster; non-clustered docs are
    * implicitly kept by anti-joining the rest away. */
  def dedupByCluster(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = dupClusters(pairs)
      .where(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }
}
