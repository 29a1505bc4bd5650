package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** The production [[Scorer]] must stay bit-identical to the plain scalar
  * forward pass it replaced: four per-gate H-wide mat-vecs and fdlibm
  * tanh, frozen here as [[ScorerSpec.ScalarScorer]]. */
class ScorerSpec extends AnyFunSuite {
  import ScorerSpec._

  private lazy val bundle = Pipeline.buildBundle()

  /** Every candidate key the fused kernel scores for one page: the
    * entity-blanked word-id sequence (whole sentence, scope -1) and the NER
    * pair; overlapping mentions are skipped, as the kernel does. */
  private def pageKeys(p: Page, gaz: Segment.GazetteerIndex): Seq[(Array[Int], Int, Int)] =
    Segment.sentences(TextExtract.extract(p.html)).flatMap { sent =>
      val lower = Segment.tokenizeLower(sent)
      val mentions = Segment.detectMentionsIndexed(lower, gaz)
      val ids = Adaptors.zeroDigits(lower).toIndexedSeq.map(bundle.word(_))
      Segment.candidatePairs(mentions).flatMap { case (s, o) =>
        def inside(x: Int, m: Mention) = x >= m.begin && x < m.end
        if (inside(s.begin, o) || inside(o.begin, s)) None
        else {
          val (f, l) = if (s.begin < o.begin) (s, o) else (o, s)
          val seq = (ids.slice(0, f.begin) :+ bundle.word(f.ner)) ++ ids.slice(f.end, l.begin) ++
            (bundle.word(l.ner) +: ids.slice(l.end, ids.length))
          Some((seq.toArray, bundle.ner(s.ner), bundle.ner(o.ner)))
        }
      }
    }

  private def bits(a: Array[Float]) = a.map(java.lang.Float.floatToRawIntBits).toSeq

  private def assertSame(scorer: Scorer, frozen: ScalarScorer, seq: Array[Int], s: Int, o: Int): Unit = {
    val what = seq.mkString("[", ",", s"] s=$s o=$o")
    assert(bits(scorer.logits(seq)) == bits(frozen.logits(seq)), s"logits $what")
    assert(bits(scorer.hiddenState(seq)) == bits(frozen.hiddenState(seq)), s"hiddenState $what")
    val (rel, conf) = scorer.predict(seq, s, o)
    val (rel0, conf0) = frozen.predict(seq, s, o)
    assert(rel == rel0, s"prediction $what")
    assert(java.lang.Double.doubleToRawLongBits(conf) == java.lang.Double.doubleToRawLongBits(conf0),
      s"confidence $conf vs $conf0 $what")
  }

  test("bit-identical to the scalar forward pass on every candidate key of 300 Gen pages") {
    val scorer = new Scorer(bundle.weights, bundle.typechecker)
    val frozen = new ScalarScorer(bundle.weights, bundle.typechecker)
    val gaz = new Segment.GazetteerIndex(bundle.gazetteer)
    val keys = (0L until 300L).flatMap(i => pageKeys(Gen.page(42L, i, withText = false), gaz))
    assert(keys.size > 1000, s"only ${keys.size} keys")
    keys.foreach { case (seq, s, o) => assertSame(scorer, frozen, seq, s, o) }
  }

  test("bit-identical to the scalar forward pass on random id sequences of length 1-40") {
    val scorer = new Scorer(bundle.weights, bundle.typechecker)
    val frozen = new ScalarScorer(bundle.weights, bundle.typechecker)
    val rng = new scala.util.Random(20151L)
    (0 until 3000).foreach { _ =>
      val seq = Array.fill(1 + rng.nextInt(40))(rng.nextInt(bundle.word.size))
      assertSame(scorer, frozen, seq, rng.nextInt(bundle.ner.size), rng.nextInt(bundle.ner.size))
    }
  }
}

object ScorerSpec {

  /** Frozen copy of the scalar LSTM forward pass the production [[Scorer]]
    * used before its gate rows were concatenated: per-gate H-wide mat-vecs
    * over `Array[Array[Float]]`, tanh, input projections computed per
    * timestep. Do not optimise it: it is the bitwise reference. The old
    * pass called `math.tanh`, which is `StrictMath.tanh` on JDK 17; this
    * copy calls `StrictMath.tanh` so that it stays the same function on a
    * JDK that gives `Math.tanh` a faster, less exact intrinsic. */
  final class ScalarScorer(w: ScorerWeights, typechecker: TypeChecker) {
    import w._
    private val retain = 1f - dropout

    private def hardSigmoid(x: Float): Float = {
      val y = 0.2f * x + 0.5f
      if (y < 0f) 0f else if (y > 1f) 1f else y
    }

    /** y(0..len(y)) += M^T x over rows of M, zero inputs skipped. */
    private def addMatVec(m: Array[Array[Float]], x: Array[Float], y: Array[Float]): Unit = {
      var i = 0
      while (i < x.length) {
        val xi = x(i)
        if (xi != 0f) {
          val row = m(i)
          var j = 0
          while (j < y.length) { y(j) += xi * row(j); j += 1 }
        }
        i += 1
      }
    }

    def hiddenState(sequence: Array[Int]): Array[Float] = {
      val h = new Array[Float](hidden); val c = new Array[Float](hidden)
      for (id <- sequence) {
        val x = embedding(id).map(_ * retain) // dropout after embedding
        def pre(wg: Array[Array[Float]]) = { val y = new Array[Float](hidden); addMatVec(wg, x, y); y }
        val pi = pre(wI); val pf = pre(wF); val pc = pre(wC); val po = pre(wO)
        val gi = Array.tabulate(hidden)(j => bI(j) + pi(j))
        val gf = Array.tabulate(hidden)(j => bF(j) + pf(j))
        val gc = Array.tabulate(hidden)(j => bC(j) + pc(j))
        val go = Array.tabulate(hidden)(j => bO(j) + po(j))
        addMatVec(uI, h, gi); addMatVec(uF, h, gf); addMatVec(uC, h, gc); addMatVec(uO, h, go)
        for (j <- 0 until hidden) {
          val i_ = hardSigmoid(gi(j)); val f_ = hardSigmoid(gf(j)); val o_ = hardSigmoid(go(j))
          c(j) = f_ * c(j) + i_ * StrictMath.tanh(gc(j)).toFloat
          h(j) = o_ * StrictMath.tanh(c(j)).toFloat
        }
      }
      h.map(_ * retain) // dropout after RNN
    }

    def logits(sequence: Array[Int]): Array[Float] = {
      val out = denseB.clone()
      addMatVec(dense, hiddenState(sequence), out)
      out
    }

    def predict(sequence: Array[Int], subjectNer: Int, objectNer: Int): (Int, Double) = {
      val p = logits(sequence)
      val base = (subjectNer * typechecker.nerSize + objectNer) * typechecker.relSize
      for (r <- p.indices) p(r) *= typechecker.valid(base + r)
      var best = 0
      for (r <- 1 until p.length) if (p(r) > p(best)) best = r
      val max = p(best)
      var sum = 0.0
      for (v <- p) sum += math.exp((v - max).toDouble)
      (best, 1.0 / sum)
    }
  }
}
