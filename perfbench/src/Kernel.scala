package perfbench

import org.apache.spark.sql.SparkSession

import graft.kg.{Adaptors, Mention, NoPathException, Page, Pipeline, ScoredPair, Scorer, Segment, TextExtract}

/** Per-phase view of the fused scoring kernel (`Pipeline.scorePages`),
  * measured from outside it through the kernel's public functions. */
object Kernel {

  /** The memo key `scorePages` builds for one candidate pair: the
    * entity-blanked word-id sequence plus the NER pair. Same math as the
    * kernel's private blanking (scope applied; overlapping spans rejected,
    * which the kernel counts as a featurize error). */
  final class Key(val seq: Array[Int], val s: Int, val o: Int) {
    override val hashCode: Int = (java.util.Arrays.hashCode(seq) * 31 + s) * 31 + o
    override def equals(that: Any): Boolean = that match {
      case k: Key => k.s == s && k.o == o && java.util.Arrays.equals(k.seq, seq)
      case _ => false
    }
  }

  def key(wordIds: IndexedSeq[Int], s: Mention, o: Mention, b: Pipeline.ScoringBundle): Option[Key] = {
    def inside(x: Int, m: Mention) = x >= m.begin && x < m.end
    if (inside(s.begin, o) || inside(o.begin, s)) return None
    val (f, l) = if (s.begin < o.begin) (s, o) else (o, s)
    val full = (wordIds.slice(0, f.begin) :+ b.word(f.ner)) ++ wordIds.slice(f.end, l.begin) ++
      (b.word(l.ner) +: wordIds.slice(l.end, wordIds.length))
    val seq =
      if (b.scope > 0) {
        val second = f.begin + 1 + (l.begin - f.end)
        full.slice(math.max(0, f.begin - b.scope), math.min(full.length, second + b.scope + 1))
      } else full
    Some(new Key(seq.toArray, b.ner(s.ner), b.ner(o.ner)))
  }

  /** Every candidate pair one page produces, in kernel order: sentence
    * index, subject, object, and the memo key (None when the mentions
    * overlap, which the kernel counts as a featurize error). */
  def pagePairs(html: Array[Byte], gaz: Segment.GazetteerIndex, b: Pipeline.ScoringBundle)
      : Seq[(Int, Mention, Mention, Option[Key])] =
    Segment.sentences(TextExtract.extract(html)).zipWithIndex.flatMap { case (sent, i) =>
      val lower = Segment.tokenizeLower(sent)
      val mentions = Segment.detectMentionsIndexed(lower, gaz)
      if (mentions.isEmpty) Nil
      else {
        val ids = Adaptors.zeroDigits(lower).toIndexedSeq.map(b.word(_))
        Segment.candidatePairs(mentions).map { case (s, o) => (i, s, o, key(ids, s, o, b)) }
      }
    }

  /** Every memo key one page produces, in kernel order. */
  def pageKeys(html: Array[Byte], gaz: Segment.GazetteerIndex, b: Pipeline.ScoringBundle): Seq[Key] =
    pagePairs(html, gaz, b).flatMap(_._4)

  /** What `Pipeline.scorePages` must emit for `pages`, computed on one
    * thread without the memo: every key goes through `Scorer.predict`.
    * Returns the scored rows and the featurize-error count. */
  def referenceScores(pages: Seq[Page], b: Pipeline.ScoringBundle): (Seq[ScoredPair], Long) = {
    val gaz = new Segment.GazetteerIndex(b.gazetteer)
    val scorer = new Scorer(b.weights, b.typechecker)
    val noRelation = b.rel("no_relation")
    var errors = 0L
    val rows = pages.flatMap { p =>
      pagePairs(p.html, gaz, b).flatMap {
        case (_, _, _, None) => errors += 1; None
        case (i, s, o, Some(k)) =>
          try {
            val (rel, conf) = scorer.predict(k.seq, k.s, k.o)
            if (rel == noRelation) None
            else Some(ScoredPair(p.url, i, s.surface, s.ner, o.surface, o.ner, b.rel.index2word(rel), conf))
          } catch {
            case _: NoPathException | _: NoSuchElementException => errors += 1; None
          }
      }
    }
    (rows, errors)
  }

  /** (candidate pairs reaching the memo, distinct keys) summed over the
    * tasks of one scan of the pages table: the memo lives for one task, so
    * distinct keys per task is the number of LSTM calls it cannot skip. */
  def memoCounts(spark: SparkSession, table: String): (Long, Long) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val perTask = spark.read.parquet(table).select("html").as[Array[Byte]]
      .mapPartitions { it =>
        val b = bc.value
        val gaz = new Segment.GazetteerIndex(b.gazetteer)
        val seen = new java.util.HashSet[Key]()
        var pairs = 0L
        it.foreach(html => pageKeys(html, gaz, b).foreach { k => pairs += 1; seen.add(k) })
        Iterator((pairs, seen.size.toLong))
      }.collect()
    bc.destroy()
    (perTask.map(_._1).sum, perTask.map(_._2).sum)
  }

  final case class Phases(extractNsPerPage: Double, segmentNsPerPage: Double,
      mentionsNsPerSentence: Double, pairsPerPage: Double, scoreNsPerCall: Double)

  /** Single-threaded timings of each kernel phase over `htmls`; each phase
    * runs five times after one warm-up pass, and the median pass counts. */
  def phases(htmls: Seq[Array[Byte]]): Phases = {
    val b = Pipeline.buildBundle()
    val gaz = new Segment.GazetteerIndex(b.gazetteer)
    val scorer = new Scorer(b.weights, b.typechecker)
    def timed(work: => Unit): Double = {
      work
      Main.median(Seq.fill(5) { val t = System.nanoTime(); work; (System.nanoTime() - t).toDouble })
    }
    var sink = 0L // keeps results live so the JIT cannot drop the work

    val texts = htmls.map(TextExtract.extract)
    val extractNs = timed(htmls.foreach(h => sink += TextExtract.extract(h).length))
    val sentences = texts.map(Segment.sentences)
    val segmentNs = timed(texts.foreach(t => sink += Segment.sentences(t).length))
    val flat = sentences.flatten
    val mentionNs = timed(flat.foreach(s =>
      sink += Segment.detectMentionsIndexed(Segment.tokenizeLower(s), gaz).length))
    val pairs = flat.map(s => Segment.candidatePairs(
      Segment.detectMentionsIndexed(Segment.tokenizeLower(s), gaz)).length).sum
    val keys = htmls.flatMap(pageKeys(_, gaz, b)).toArray
    val scoreNs = timed(keys.foreach(k => sink += scorer.predict(k.seq, k.s, k.o)._1))
    if (sink == 42L) System.err.println("")
    Phases(extractNs / htmls.length, segmentNs / htmls.length,
      mentionNs / math.max(1, flat.length), pairs.toDouble / htmls.length,
      scoreNs / math.max(1, keys.length))
  }
}
