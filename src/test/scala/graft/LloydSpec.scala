package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The integer-grid Lloyd kernel (ops/Lloyd.scala). Locked here:
  *  1. the kc-tagged ladder is the per-level training with kc as one more
  *     key: every kc slice of `pqCodebooksK` equals `pqCodebookK` row for
  *     row, codes and centroids both;
  *  2. an exact-distance tie goes to the lower centroid id, in both argmin
  *     shapes;
  *  3. the update is FLOOR(mean) per dim, and a centroid no point picks
  *     keeps its previous value.
  */
class LloydSpec extends AnyFunSuite {
  import SharedSpark.{sf01, spark}
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("pqCodebooksK: each kc slice equals pqCodebookK row for row, codes and centroids") {
    val emb = Tables.embeddings(spark, sf01)
    val (codesK, centsK) = ops.Round10n.pqCodebooksK(emb, Seq(16, 64))
    for (kc <- Seq(16, 64)) {
      val (codes, cents) = ops.Round10n.pqCodebookK(emb, kc)
      val slice = col("kc") === kc.toLong
      val gotCodes = rows(codesK.where(slice).select("vec_id", "s", "code", "dist"))
      val gotCents = rows(centsK.where(slice).select("s", "j", "c"))
      assert(gotCodes.nonEmpty && gotCodes == rows(codes), s"kc=$kc codes differ")
      assert(gotCents.length == 8 * kc && gotCents == rows(cents), s"kc=$kc centroids differ")
    }
  }

  test("an exact-distance tie goes to the lower centroid id, in both argmin shapes") {
    // centroids 2 and 1 sit at squared distance 1 on either side of the
    // point; 0 and 3 are farther. Row order puts the higher id first.
    def at(x: Long, dim: Int): Seq[Long] = x +: Seq.fill(dim - 1)(0L)
    val cents4 = Seq((0, 3L, at(9, 4)), (0, 2L, at(1, 4)), (0, 1L, at(-1, 4)), (0, 0L, at(5, 4)))
      .toDF("s", "j", "c")
    val sub = Seq((7L, 0, at(0, 4))).toDF("vec_id", "s", "v")
    val carried = ops.Lloyd.assignCarried(sub, cents4, Seq("s"), Seq("vec_id", "s"), 16, 4)
      .collect().head
    assert(carried.getAs[Long]("code") == 1L && carried.getAs[Long]("dist") == 1L)
    assert(Seq(1, 2, 3, 4).map(i => carried.getAs[Long](s"v$i")) == at(0, 4))

    val cents64 = cents4.select(col("j"), concat(col("c"), array(Seq.fill(60)(lit(0L)): _*)).as("c"))
    val narrow = ops.Lloyd.assignNarrow(Seq((7L, at(0, 64))).toDF("vec_id", "v"), cents64, 4)
      .collect().head
    assert(narrow.getAs[Long]("list_id") == 1L)
  }

  test("update: FLOOR(mean) per dim, and an unpicked centroid keeps its previous value") {
    val prev = Seq((0, 0L, Seq(10L, 10L)), (0, 1L, Seq(-4L, 9L)))
      .toDF("s", "j", "c")
    // both points pick centroid 0; centroid 1 is picked by nobody
    val assigned = Seq((0, 0L, -1L, 4L), (0, 0L, -2L, 7L))
      .toDF("s", "code", "v1", "v2")
    val got = ops.Lloyd.update(assigned, prev, Seq("s"), ops.Lloyd.carried(2))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSet
    // floor(-3 / 2) = -2 (toward −∞, not toward zero); floor(11 / 2) = 5
    assert(got == Set((0, 0L, Seq(-2L, 5L)), (0, 1L, Seq(-4L, 9L))))
  }
}
