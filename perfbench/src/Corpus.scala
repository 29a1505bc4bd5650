package perfbench

import graft.kg.{Gen, Page, TextExtract}

/** Seeded corpus with little repetition, for the `kg_diverse` workload.
  *
  * `Gen.page` draws every sentence from 12 templates and 8 filler lines, so
  * after entity blanking almost every scored sequence repeats and the
  * scoring memo skips the LSTM. Here each sentence is a random run of words
  * from the frozen word vocab with entities from `Gen.allEntities` inserted
  * at random slots, so almost every blanked sequence is unique and the LSTM
  * does the work. The HTML shell matches `Gen.page`, so extraction and
  * segmentation cost per page stay comparable. Pure function of (seed, i);
  * nothing is downloaded. */
object Corpus {

  /** Vocab words that cannot start or continue an entity mention, so the
    * gazetteer only matches the entities planted on purpose. */
  private lazy val fillers: Array[String] = {
    val entityTokens = Gen.allEntities.flatMap(_.surfaces.flatMap(_.split(" "))).toSet
    Gen.buildVocabs().word.index2word
      .filter(w => w.nonEmpty && w.forall(c => c.isLower || c.isDigit))
      .filterNot(entityTokens).toArray
  }
  private lazy val subjects = Gen.allEntities
    .filter(e => graft.kg.Segment.subjectNers(e.ner)).toArray
  private lazy val entities = Gen.allEntities.toArray

  private def sentence(rng: Gen.Rng): String = {
    val words = Array.fill(4 + rng.nextInt(10))(fillers(rng.nextInt(fillers.length)))
      .toBuffer[String]
    if (rng.nextDouble() >= 0.2) { // 80% carry a subject and one or two objects
      val planted = subjects(rng.nextInt(subjects.length)) +:
        Seq.fill(1 + (if (rng.nextDouble() < 0.25) 1 else 0))(entities(rng.nextInt(entities.length)))
      planted.foreach { e =>
        words.insert(rng.nextInt(words.length + 1), e.surfaces(rng.nextInt(e.surfaces.length)))
      }
    }
    words.mkString("", " ", " .")
  }

  def page(seed: Long, i: Long): Page = {
    val rng = new Gen.Rng(seed * 0xD1B54A32D192ED03L + i * 0x9E3779B97F4A7C15L + 3)
    val paras = Seq.fill(3 + rng.nextInt(6))(sentence(rng)).map(s => s"  <p>$s</p>").mkString("\n")
    val html =
      s"""<html><head><title>doc $i</title>
         |<script>var x = $i; // tracking</script>
         |<style>p { margin: 0; }</style></head>
         |<body>
         |<h1>diverse page $i</h1>
         |$paras
         |<div class="footer">&copy; 0000 example &amp; co.</div>
         |</body></html>""".stripMargin
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ts = new java.sql.Timestamp(1420070400000L + (i % 31536000L) * 1000L)
    Page(s"https://example.org/diverse/$i", ts, bytes, TextExtract.extract(bytes), "en")
  }
}
