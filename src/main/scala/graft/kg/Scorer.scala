package graft.kg

/**
 * Vectorized relation-scoring kernel M1-M3: the reference's `single_small`
 * sentence model (reference: models.py:99-116 — embedding → 1-layer LSTM →
 * dense → R logits) re-expressed as plain primitive-array math for use
 * inside `Dataset.mapPartitions`.
 *
 * Semantics preserved from the reference inference path (kbp.py:52-63):
 *  - batches are grouped by EXACT sequence length — no padding ever enters
 *    the RNN (kbp.py:22-33, data/dataset.py:137-165);
 *  - logits are multiplied (not -inf-masked) by the typecheck validity row
 *    (kbp.py:56);
 *  - prediction = argmax of masked logits, first index wins ties (numpy);
 *  - confidence = row-softmax of the masked logits at the argmax
 *    (kbp.py:57-58, utils.py:4-7 — max-subtracted, over ALL entries
 *    including masked zeros: bug-compatible);
 *  - Keras-0.x test-time dropout scales activations by (1 - p)
 *    (models.py:105,112: Dropout after embedding and after the RNN);
 *  - LSTM gates use Keras-0.x defaults: hard_sigmoid inner activation,
 *    tanh output activation.
 *
 * The reference repo ships no trained weights (`experiments/` is empty), so
 * "reference extractions" are defined by the deterministic fixture weights
 * from [[ScorerWeights.fixture]] — the frozen goldens the P/R≥0.95 gate
 * compares against (SURVEY.md §7.3).
 *
 * Kernel layout (bit-identical to the plain per-gate scalar loops):
 *  - the four recurrent matrices are held as one row of 4H floats per
 *    hidden unit, so a timestep is `g = bias + W·x` then `g += h(i) * row_i`
 *    for i = 0..H-1 over all 4H gate entries at once. Each entry sees the
 *    same float operations in the same order as four separate H-wide
 *    mat-vecs, so every result is unchanged;
 *  - every array in those loops is indexed by the loop variable itself.
 *    HotSpot C2's SuperWord pass vectorizes `g(j) += x * row(j)` but not
 *    `g(j) += x * u(off + j)`, and H-wide rows (24) are too short to pay
 *    for its vector loop's entry. Per multiply-add, single thread, JDK 17
 *    on a 4-vCPU Xeon VM: 0.24-0.29 ns for 4H rows, 0.58-0.64 ns for four
 *    H-wide gate loops, 0.84-0.88 ns for one H×4H array with offsets;
 *  - tanh is [[ExactTanh]], a table tanh that returns exactly
 *    `StrictMath.tanh(x).toFloat` (fdlibm, which `math.tanh` delegates to
 *    on JDK 17) for every float x, at a fraction of its cost. The cell
 *    update (tanh of the cell gate) and the hidden update (tanh of the new
 *    cell) run as two loops over j rather than one, so no tanh call waits
 *    for another's result and the CPU overlaps them (15-20% of a call in
 *    a single-thread measurement).
 */
final case class ScorerWeights(
    embedding: Array[Array[Float]], // V x D
    wI: Array[Array[Float]], uI: Array[Array[Float]], bI: Array[Float], // D x H, H x H, H
    wF: Array[Array[Float]], uF: Array[Array[Float]], bF: Array[Float],
    wC: Array[Array[Float]], uC: Array[Array[Float]], bC: Array[Float],
    wO: Array[Array[Float]], uO: Array[Array[Float]], bO: Array[Float],
    dense: Array[Array[Float]], denseB: Array[Float], // H x R, R
    dropout: Float) extends Serializable {
  def embDim: Int = embedding(0).length
  def hidden: Int = bI.length
  def relSize: Int = denseB.length
}

object ScorerWeights {

  /** Deterministic xorshift64* PRNG — no wall-clock, no java.util.Random
    * version sensitivity; uniform in [-scale, scale). */
  private final class Rng(seed0: Long) {
    private var s = if (seed0 == 0) 0x9E3779B97F4A7C15L else seed0
    def next(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545F4914F6CDD1DL
    }
    def uniform(scale: Float): Float = {
      val u = (next() >>> 11).toDouble / (1L << 53).toDouble // [0,1)
      ((u * 2.0 - 1.0) * scale).toFloat
    }
  }

  private def mat(rng: Rng, rows: Int, cols: Int, scale: Float): Array[Array[Float]] =
    Array.fill(rows)(Array.fill(cols)(rng.uniform(scale)))

  /** The frozen fixture weights (seed fixed): defines reference semantics
    * for the golden-triple gate. Each tensor gets its own sub-seeded RNG so
    * growing the vocab (more embedding rows) leaves every other tensor —
    * and existing embedding rows — bit-identical. */
  def fixture(vocabSize: Int, embDim: Int = 16, hidden: Int = 24, relSize: Int, seed: Long = 42L): ScorerWeights = {
    def rng(k: Int) = new Rng(seed * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL + 17)
    def vec(k: Int, n: Int, scale: Float, base: Float = 0f) = {
      val r = rng(k); Array.fill(n)(base + r.uniform(scale))
    }
    ScorerWeights(
      embedding = mat(rng(0), vocabSize, embDim, 0.5f),
      wI = mat(rng(1), embDim, hidden, 0.3f), uI = mat(rng(2), hidden, hidden, 0.3f), bI = vec(3, hidden, 0.1f),
      wF = mat(rng(4), embDim, hidden, 0.3f), uF = mat(rng(5), hidden, hidden, 0.3f), bF = vec(6, hidden, 0.1f, 1f),
      wC = mat(rng(7), embDim, hidden, 0.3f), uC = mat(rng(8), hidden, hidden, 0.3f), bC = vec(9, hidden, 0.1f),
      wO = mat(rng(10), embDim, hidden, 0.3f), uO = mat(rng(11), hidden, hidden, 0.3f), bO = vec(12, hidden, 0.1f),
      dense = mat(rng(13), hidden, relSize, 0.5f), denseB = vec(14, relSize, 0.1f),
      dropout = 0.5f)
  }
}

final class Scorer(weights: ScorerWeights, typechecker: TypeChecker) extends Serializable {
  import weights._

  private val retain = 1f - dropout
  private val gateWidth = 4 * hidden

  /** Precomputed input-gate projections per vocab id: the embedding row is
    * a pure function of the id, so W_g·(emb[v]·retain) is computed once per
    * id instead of once per occurrence — removes the input matmul from
    * every LSTM timestep (the recurrent U·h matmul remains). Built lazily
    * per deserialized Scorer instance (per task), V×4H floats laid out as
    * the gate rows below: input, forget, cell, output. */
  @transient private lazy val inputGates: Array[Array[Float]] = {
    val v = embedding.length
    val table = new Array[Array[Float]](v)
    val x = new Array[Float](embDim)
    var id = 0
    while (id < v) {
      val emb = embedding(id)
      var d = 0
      while (d < embDim) { x(d) = emb(d) * retain; d += 1 }
      val row = new Array[Float](gateWidth)
      // accumulation order i = 0..embDim-1 per element, zero inputs skipped
      def acc(m: Array[Array[Float]], off: Int): Unit = {
        var i = 0
        while (i < embDim) {
          val xi = x(i)
          if (xi != 0f) {
            val r = m(i)
            var j = 0
            while (j < hidden) { row(off + j) += xi * r(j); j += 1 }
          }
          i += 1
        }
      }
      acc(wI, 0); acc(wF, hidden); acc(wC, 2 * hidden); acc(wO, 3 * hidden)
      table(id) = row
      id += 1
    }
    table
  }

  /** Recurrent weights as one 4H row per hidden unit,
    * `uI(i) ++ uF(i) ++ uC(i) ++ uO(i)`, and the biases in the same order. */
  private val gateRows: Array[Array[Float]] =
    Array.tabulate(hidden)(i => uI(i) ++ uF(i) ++ uC(i) ++ uO(i))
  private val gateBias: Array[Float] = bI ++ bF ++ bC ++ bO

  @inline private def hardSigmoid(x: Float): Float = {
    val y = 0.2f * x + 0.5f
    if (y < 0f) 0f else if (y > 1f) 1f else y
  }

  // per-thread scratch (h, c, 4H gates), reused across calls
  private val scratch = new ThreadLocal[Array[Array[Float]]] {
    override def initialValue(): Array[Array[Float]] =
      Array(new Array[Float](hidden), new Array[Float](hidden), new Array[Float](gateWidth))
  }

  /** Final hidden state (post test-time dropout scaling) — the feature
    * vector the dense readout consumes; also used by the distributed
    * readout trainer (Trainer.scala). */
  def hiddenState(sequence: Array[Int]): Array[Float] = {
    val buf = scratch.get()
    val h = buf(0); val c = buf(1); val g = buf(2)
    java.util.Arrays.fill(h, 0f); java.util.Arrays.fill(c, 0f)
    val gates = inputGates
    val n = gateWidth
    var t = 0
    while (t < sequence.length) {
      val pre = gates(sequence(t))
      var j = 0
      while (j < n) { g(j) = gateBias(j) + pre(j); j += 1 }
      var i = 0
      while (i < hidden) {
        val hi = h(i)
        if (hi != 0f) {
          val row = gateRows(i)
          j = 0
          while (j < n) { g(j) += hi * row(j); j += 1 }
        }
        i += 1
      }
      // two passes, so that the tanh calls within each are independent
      j = 0
      while (j < hidden) {
        c(j) = hardSigmoid(g(hidden + j)) * c(j) + hardSigmoid(g(j)) * ExactTanh(g(2 * hidden + j))
        j += 1
      }
      j = 0
      while (j < hidden) { h(j) = hardSigmoid(g(3 * hidden + j)) * ExactTanh(c(j)); j += 1 }
      t += 1
    }
    val out = new Array[Float](hidden)
    var j = 0
    while (j < hidden) { out(j) = h(j) * retain; j += 1 } // dropout after RNN
    out
  }

  /** Raw logits for one sequence (single_small forward pass): the dense
    * readout over [[hiddenState]]. */
  def logits(sequence: Array[Int]): Array[Float] = {
    val x = hiddenState(sequence)
    val out = denseB.clone()
    var j = 0
    while (j < hidden) {
      val xj = x(j)
      if (xj != 0f) {
        val row = dense(j)
        var r = 0
        while (r < out.length) { out(r) += xj * row(r); r += 1 }
      }
      j += 1
    }
    out
  }

  /** Masked argmax + softmax confidence for one example (M2+M3). */
  def predict(sequence: Array[Int], subjectNer: Int, objectNer: Int): (Int, Double) = {
    val p = logits(sequence)
    val base = (subjectNer * typechecker.nerSize + objectNer) * typechecker.relSize
    var r = 0
    while (r < p.length) { p(r) *= typechecker.valid(base + r); r += 1 }
    var best = 0
    var max = p(0)
    r = 1
    while (r < p.length) { if (p(r) > max) { max = p(r); best = r }; r += 1 }
    // np_softmax over the masked logits (utils.py:4-7)
    var sum = 0.0
    r = 0
    while (r < p.length) { sum += math.exp((p(r) - max).toDouble); r += 1 }
    (best, 1.0 / sum) // exp(p(best)-max) == exp(0) == 1
  }
}

/**
 * tanh on floats, equal to `StrictMath.tanh(x).toFloat` for every float x
 * (NaN gives NaN), at a sixth to a third of its cost: 9-18 ns against
 * 62-64 ns per call on arguments in [-2, 2], single thread, JDK 17 on a
 * 4-vCPU Xeon VM.
 *
 *  - |x| < 1/64: odd Maclaurin series to x^9;
 *  - 1/64 <= |x| < 9.5: degree-7 Taylor polynomial about the centre of the
 *    1/32-wide interval holding |x|; coefficients come from fdlibm's tanh
 *    at the centre (derivative n of tanh is a polynomial in tanh), and the
 *    polynomial is evaluated in double (Estrin);
 *  - |x| >= 9.5: ±1, which is what tanh rounds to in float from 9.01 on.
 *
 * The double result is within 13 double ulps of fdlibm's on every normal
 * float below 9.5, close enough that no float input rounds differently.
 * That exactness is established by checking, not by an error bound: the
 * input domain is finite and double arithmetic and StrictMath are
 * deterministic, so `ExactTanhSweep` (`sbt "Test/runMain
 * graft.kg.ExactTanhSweep"`) compares all 2^32 floats. Any change to the
 * table, the series or the evaluation order must rerun it and get 0
 * mismatches; ExactTanhSpec checks a 17M-value stride of all floats.
 */
private[kg] object ExactTanh {
  private final val Steps = 32 // table intervals per unit of |x|
  private final val Intervals = 304 // [k/32, (k+1)/32) for k < 304 reaches 9.5
  private final val SeriesBelow = 1f / 64
  private final val OneFrom = 9.5f

  /** Taylor coefficients of tanh about (k + 1/2)/32, eight per interval k. */
  private val coef: Array[Double] = {
    // d/dx tanh = 1 - tanh^2, so derivative n is a polynomial P_n(t) in
    // t = tanh with P_(n+1) = P_n'(t) * (1 - t^2); integer coefficients
    val polys = Iterator.iterate(Array(0L, 1L)) { p =>
      val q = new Array[Long](p.length + 1)
      for (m <- 1 until p.length) { q(m - 1) += m * p(m); q(m + 1) -= m * p(m) }
      q
    }.take(8).toArray
    val out = new Array[Double](Intervals * 8)
    for (k <- 0 until Intervals) {
      val t = StrictMath.tanh((k + 0.5) / Steps)
      var factorial = 1.0
      for (n <- 0 until 8) {
        if (n > 0) factorial *= n
        out(k * 8 + n) = polys(n).foldRight(0.0)((c, acc) => acc * t + c) / factorial
      }
    }
    out
  }

  def apply(x: Float): Float = {
    val a = math.abs(x)
    if (!(a < OneFrom)) return if (a != a) x else math.copySign(1f, x)
    val y =
      if (a < SeriesBelow) {
        val d = a.toDouble
        val d2 = d * d
        d + d * d2 * (-1.0 / 3 + d2 * (2.0 / 15 + d2 * (-17.0 / 315 + d2 * (62.0 / 2835))))
      } else {
        val k = (a * Steps).toInt
        val o = k * 8
        val dx = a - (k + 0.5) / Steps // exact: both are multiples of 2^-29
        val dx2 = dx * dx
        val c = coef
        ((c(o) + c(o + 1) * dx) + dx2 * (c(o + 2) + c(o + 3) * dx)) +
          dx2 * dx2 * ((c(o + 4) + c(o + 5) * dx) + dx2 * (c(o + 6) + c(o + 7) * dx))
      }
    math.copySign(y.toFloat, x)
  }
}
