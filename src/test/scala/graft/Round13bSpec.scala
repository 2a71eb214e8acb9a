package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 batch-2 audits (ops/Round13b.scala). Locked here:
  *  1. q247 == a full JVM replay of the silhouette over the SAME coarse
  *     assignment (exact long sums, one IEEE division — bit-equal), and
  *     every silhouette is finite in [-1, 1];
  *  2. q248's curve is monotone non-decreasing in nprobe per query and
  *     its nprobe = nlist row is EXACTLY 1.0 (probing every list is the
  *     exact answer — the curve's internal ground-truth anchor).
  */
class Round13bSpec extends AnyFunSuite {
  import SharedSpark.{sf01, spark}

  test("q247: silhouettes == JVM replay over the same assignment; all in [-1, 1]") {
    // replay the assignment through the SAME shared helpers, then compute
    // the silhouette in plain JVM arithmetic (exact long sums, one
    // long→double conversion, one division — the query's exact ops)
    val qv = ops.Round11.quantized(Tables.embeddings(spark, sf01))
    val wn = ops.Lloyd.coarse(qv, 8)._1.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("list_id"),
        r.getAs[Seq[Long]]("v").toArray))
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = (a(i) - b(i)).toDouble; s += d * d; i += 1 }
      s.toLong
    }
    val expected = wn.filter(v => v._1 % 97 == 3 && v._1 < 2000).map {
      case (aid, ownList, av) =>
        val byCell = wn.filter(_._1 != aid).groupBy(_._2)
        def mean(cell: Long): Option[Double] = byCell.get(cell).map { ms =>
          ms.map(m => d2(av, m._3)).sum.toDouble / ms.length.toDouble
        }
        val a = mean(ownList)
        val b = byCell.keys.filter(_ != ownList).flatMap(mean).minOption
        val s = (a, b) match {
          case (Some(x), Some(y)) => (y - x) / math.max(x, y)
          case _                  => 0.0
        }
        (aid, ownList, a, b, s)
    }.toSet
    val got = SparkEntry.queries("q247_cell_silhouette")(spark, sf01).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("own_list"),
        Option(r.getAs[java.lang.Double]("a")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("b")).map(_.doubleValue),
        r.getAs[Double]("silhouette"))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(2)} extra=${(got -- expected).take(2)}")
    assert(got.nonEmpty && got.forall(r => r._5 >= -1.0 && r._5 <= 1.0))
  }

  test("q248: recall monotone non-decreasing in nprobe; nprobe = nlist row is exactly 1.0") {
    val rows = SparkEntry.queries("q248_nprobe_curve")(spark, sf01).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("nprobe"),
        r.getAs[Long]("n_hit")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val byP = rs.sortBy(_._2).map(_._3)
      assert(byP.zip(byP.tail).forall { case (lo, hi) => lo <= hi },
        s"qid $qid: recall not monotone in nprobe: ${byP.toSeq}")
    }
    rows.filter(_._2 == 8).foreach { case (qid, _, h) =>
      assert(h == 5L, s"qid $qid: full-probe row is not exact (n_hit $h)")
    }
    // the curve must show a real knee on this corpus, else it tunes nothing
    assert(rows.exists(r => r._2 == 1 && r._3 < 5),
      "nprobe=1 already exact — the operating curve is vacuous here")
  }

  test("q249: recall monotone non-decreasing in shortlist width; knee is real") {
    val rows = SparkEntry.queries("q249_width_curve")(spark, sf01).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("width"),
        r.getAs[Long]("n_hit")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val byW = rs.sortBy(_._2).map(_._3)
      assert(byW.zip(byW.tail).forall { case (lo, hi) => lo <= hi },
        s"qid $qid: recall not monotone in width: ${byW.toSeq}")
    }
    // the 1-bit quantizer's loss must be visible at the narrow end AND
    // width must buy some of it back, else the curve tunes nothing
    assert(rows.exists(r => r._2 == 10 && r._3 < 5),
      "width=10 already exact — curve vacuous")
    val (m10, m100) = (rows.filter(_._2 == 10).map(_._3).sum,
      rows.filter(_._2 == 100).map(_._3).sum)
    assert(m100 > m10, "width bought no recall on this corpus")
  }

  test("q250: ladder legs match their source pipelines; h64 span leg == string-keyed totals") {
    val got = SparkEntry.queries("q250_dedup_ladder")(spark, sf01).collect()
      .map(r => r.getAs[String]("family") ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("n_hits"), r.getAs[Long]("toks")))
      .toMap
    assert(got.keySet == Set("1_exact_doc", "2_dup_span", "3_cdc_chunk"))
    // the declared leg runs the h64 gram key; the STRING-keyed pipeline
    // must produce identical totals (in-engine collision-freedom check,
    // independent of the oracle's own string replay)
    val str = ops.Round12c.dupSpans(Tables.documents(spark, sf01), hashKey = false)
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        coalesce(sum(col("span_toks")), lit(0L)))
      .collect()(0)
    assert(got("2_dup_span") == ((str.getLong(0), str.getLong(1), str.getLong(2))))
    assert(got("2_dup_span")._1 > 0 || got("3_cdc_chunk")._1 > 0,
      "no dup structure found at any granularity — ladder vacuous")
  }
}
