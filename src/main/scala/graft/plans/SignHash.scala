package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The sign-hash kernel: one integer hyperplane family, one sign fold and
  * one 32-bit sign word, shared by the hyperplane-LSH queries (q52, q220,
  * q226, q229), the binary-code ANN queries (q232, q240, q249), the SimHash
  * fingerprint (q56, q221, q224) and the ScaleCurve rows that measure them.
  *
  *  - [[hyperplane]] `j` of the family keyed by `prime` has the 64 integer
  *    weights w(j, k) = ((j·64 + k)·prime mod 97) − 48, as doubles. The
  *    DuckDB oracles replay the same arithmetic (`bucketSql`), so a dot
  *    against it is the identical sequential fold in both engines.
  *  - [[fold]] packs sign decisions into a long: bit b is set iff
  *    `signs(b) > 0`.
  *  - [[bucket]] folds the signs of `bits` consecutive hyperplanes.
  *  - [[word]] folds the signs of 32 consecutive dims: two words are a
  *    64-dim vector's 8-byte binary code, compared by popcount(xor).
  */
object SignHash {

  /** q52's family key; q229 keys each of its tables by its own prime. */
  val Prime = 2654435761L

  def hyperplane(j: Int, prime: Long = Prime): Column =
    transform(sequence(lit(0), lit(63)),
      k => ((lit(j.toLong) * 64 + k) * lit(prime) % 97 - 48).cast("double"))

  def fold(signs: Seq[Column]): Column =
    signs.zipWithIndex
      .map { case (s, b) => when(s > 0, 1L << b).otherwise(0L) }
      .reduce(_ + _)

  /** The bucket of `e` over hyperplanes `first` until `first + bits`. */
  def bucket(e: Column, bits: Int, first: Int = 0, prime: Long = Prime): Column =
    fold((0 until bits).map(b => DotProduct.dot(e, hyperplane(first + b, prime))))

  /** The sign bits of dims `lo + 1` to `lo + 32` of `e`. */
  def word(e: Column, lo: Int): Column =
    fold((1 to 32).map(i => element_at(e, lo + i)))
}
