package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** [[ExactTanh]] must return exactly `StrictMath.tanh(x).toFloat`. */
class ExactTanhSpec extends AnyFunSuite {
  import ExactTanhSweep.agrees

  test("equals StrictMath.tanh(x).toFloat on a stride of every float bit pattern") {
    val stride = 251L // prime: every low-bit residue is visited, ~17.1M values
    var bits = 0L
    var n = 0L
    val bad = scala.collection.mutable.ArrayBuffer.empty[Float]
    while (bits < (1L << 32)) {
      val x = java.lang.Float.intBitsToFloat(bits.toInt)
      if (!agrees(x) && bad.size < 10) bad += x
      n += 1
      bits += stride
    }
    assert(n > 17000000L)
    assert(bad.isEmpty, bad.map(x => s"$x -> ${ExactTanh(x)} want ${StrictMath.tanh(x.toDouble).toFloat}"))
  }

  test("edge cases: zeros, subnormals, interval boundaries, 9.5, infinities, NaN, near-midpoint results") {
    def around(x: Float) = Seq(Math.nextDown(x), x, Math.nextUp(x))
    // tanh of these lies so close to a float midpoint that a degree-6 table
    // rounds them the wrong way
    val nearMidpoint = Seq(0.026529457f, 0.029938579f, 0.030655304f, 0.030781714f, 0.030895384f)
    val positive =
      Seq(0f, Float.MinPositiveValue, 2 * Float.MinPositiveValue, java.lang.Float.MIN_NORMAL,
        Math.nextDown(java.lang.Float.MIN_NORMAL), 1e-30f, 1e-8f, 1f / 4096,
        Float.MaxValue, Float.PositiveInfinity) ++ nearMidpoint ++
        around(1f / 64) ++ (1 to 304).flatMap(k => around(k / 32f)) ++ around(9.5f) ++ around(9.01f)
    val cases = positive ++ positive.map(-_) ++ Seq(Float.NaN, java.lang.Float.intBitsToFloat(0xffc00001))
    val bad = cases.filterNot(agrees)
    assert(bad.isEmpty, bad.map(x => s"$x -> ${ExactTanh(x)} want ${StrictMath.tanh(x.toDouble).toFloat}"))
    assert(java.lang.Float.floatToRawIntBits(ExactTanh(-0f)) == java.lang.Float.floatToRawIntBits(-0f))
    assert(ExactTanh(Float.NaN).isNaN)
  }
}

/** Checks [[ExactTanh]] against `StrictMath.tanh(x).toFloat` on all 2^32 float
  * bit patterns, on four threads (tens of seconds to a few minutes).
  * Run: `sbt "Test/runMain graft.kg.ExactTanhSweep"`. */
object ExactTanhSweep {

  /** Bitwise equal (signed zeros distinguished); any NaN matches any NaN. */
  def agrees(x: Float): Boolean = {
    val want = StrictMath.tanh(x.toDouble).toFloat
    val got = ExactTanh(x)
    if (want.isNaN) got.isNaN
    else java.lang.Float.floatToRawIntBits(got) == java.lang.Float.floatToRawIntBits(want)
  }

  def main(args: Array[String]): Unit = {
    val threads = 4
    val t0 = System.nanoTime()
    val mismatches = new java.util.concurrent.atomic.AtomicLong()
    val workers = (0 until threads).map { w =>
      val th = new Thread(() => {
        val lo = (1L << 32) / threads * w
        val hi = (1L << 32) / threads * (w + 1)
        var bits = lo
        var bad = 0L
        while (bits < hi) {
          val x = java.lang.Float.intBitsToFloat(bits.toInt)
          if (!agrees(x)) {
            bad += 1
            if (bad <= 5) System.err.println(s"mismatch: $x -> ${ExactTanh(x)} want ${StrictMath.tanh(x.toDouble).toFloat}")
          }
          bits += 1
        }
        mismatches.addAndGet(bad)
      })
      th.start()
      th
    }
    workers.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"ExactTanhSweep: 4294967296 floats, ${mismatches.get} mismatches, $secs%.1f s on $threads threads")
    if (mismatches.get != 0) sys.exit(1)
  }
}
