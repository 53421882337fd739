package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

/** `LshBucket.bucket` reads its plane weights from a precomputed
  * table; every bucket must be bit-identical to the formula evaluated
  * in the same multiply–add order, at every vector length (the table
  * grows for vectors longer than it).
  */
class LshBucketSpec extends AnyFunSuite {

  private def formula(v: Array[Double]): Long = {
    var out = 0L
    for (p <- 0 until XSql.LshPlanes) {
      var acc = 0.0
      for (i <- v.indices) {
        val w = ((XSql.A2(p) * (i + 1) + XSql.B2(p)) % XSql.PlaneMod - 1000).toDouble / 1000.0
        acc += v(i) * w
      }
      if (acc > 0) out += (1L << p)
    }
    out
  }

  test("bucket == the plane formula on random vectors of several lengths") {
    val r = new scala.util.Random(17)
    // lengths below, at and above the initial table, in growing and
    // then shrinking order
    for (n <- Seq(0, 1, 3, 63, 64, 65, 200, 1000, 64, 7); _ <- 1 to 50) {
      val v = Array.fill(n)(r.nextGaussian())
      val got = LshBucket.bucket(ArrayData.toArrayData(v))
      assert(got == formula(v), s"n=$n")
      assert(got == LshBucket.bucketN(ArrayData.toArrayData(v), XSql.LshPlanes), s"n=$n")
    }
  }
}
