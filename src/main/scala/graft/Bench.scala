package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-round benchmark main. Runs every SparkEntry query against
 * SPARK_GRAFT_SF_DIR plus the flagship KG pipeline at a fixed page count,
 * and prints ONE JSON line:
 *   {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
 *    "kg_pages":N,"kg_triples":N,"kg_sec":s,"pages_per_sec":r,"triples_per_sec":r}
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val kgPages = sys.env.getOrElse("SPARK_GRAFT_KG_PAGES", "200000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JIT/classload warmup (not timed): tiny pass over every code path.
    graft.kg.Pipeline.extractTriples(spark,
      graft.kg.Pipeline.generatePages(spark, 64)).count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // Flagship KG throughput first, right after warmup (the BASELINE
    // metric: triples/sec over the page corpus). Two trials, min — this
    // sandbox has bursty background load (see BASELINE.md).
    var kgTriples = 0L
    val kgSec = (1 to 2).map { _ =>
      val kg0 = System.nanoTime()
      kgTriples = graft.kg.Pipeline.extractTriples(spark,
        graft.kg.Pipeline.generatePages(spark, kgPages, partitions = cpus.toInt * 2)).count()
      (System.nanoTime() - kg0) / 1e9
    }.min

    // min of two trials per query — the sandbox's background load causes
    // up to 10x wall-clock variance on identical jobs. A failing query is
    // still timed (the JSON line's shape is fixed), so its exception goes
    // to stderr rather than passing as a fast query.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            System.err.println(s"graft.Bench: query $name failed")
            e.printStackTrace()
            -1L
        }
        (System.nanoTime() - t0) / 1e9
      }
      name -> secs.min
    }

    // ANN recall telemetry AT BENCH SCALE (not just the sf0.001 unit test):
    // the production banded-LSH operator over the FULL embeddings table,
    // measured against exact all-pairs ground truth on a bounded id slice —
    // cap-induced recall decay shows up here instead of being assumed away.
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val recallCap = 2000
    val exactPairs = graft.ops.Similarity.cosineNearDupPairs(emb, recallCap, 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = graft.ops.Similarity.annCandidatePairs(emb, 0.3)
      .filter(col("id_a") < recallCap && col("id_b") < recallCap)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annRecall =
      if (exactPairs.isEmpty) 1.0
      else (annPairs intersect exactPairs).size.toDouble / exactPairs.size
    require(annRecall >= 0.9, s"ANN recall $annRecall < 0.9 over ${exactPairs.size} exact pairs")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum + kgSec
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","kg_pages":$kgPages,"kg_triples":$kgTriples,"kg_sec":$kgSec,"pages_per_sec":${kgPages / kgSec},"triples_per_sec":${kgTriples / kgSec},"ann_recall":$annRecall,"ann_recall_exact_pairs":${exactPairs.size}}""")
    spark.stop()
  }
}

/**
 * Scaling-efficiency evidence (north rule: two cluster sizes, N and 4N —
 * realized in this sandbox as two local[k] levels on identical input, per
 * driver instruction). Prints one JSON line with throughput at both levels
 * and the efficiency ratio. Run: `sbt "runMain graft.ScalingBench"`.
 */
object ScalingBench {

  /** One timed full-pipeline trial at local[cpus]; session is created and
    * stopped around it (fresh shuffle state per level, same JVM). */
  def trial(cpus: Int, pages: Long): (Long, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"scaling-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup (JIT + codegen + broadcast machinery), not timed
    graft.kg.Pipeline.extractTriples(spark,
      graft.kg.Pipeline.generatePages(spark, 64)).count()
    val t0 = System.nanoTime()
    // pages generated directly into cpus*2 partitions — a narrow stage end
    // to end (generate→extract→segment→score→broadcast-link); no shuffle
    // until the dedup groupBy.
    val n = graft.kg.Pipeline.extractTriples(spark,
      graft.kg.Pipeline.generatePages(spark, pages, partitions = cpus * 2)).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    (n, sec)
  }

  def main(args: Array[String]): Unit = {
    val pages = sys.env.getOrElse("SPARK_GRAFT_KG_PAGES", "800000").toLong
    // default pair 2→8: the CPU-bound regime on this 32-vCPU box after the
    // scanner extractor halved per-page compute (4→16 and 8→32 saturate
    // shared DRAM bandwidth — a one-box artifact, see BASELINE.md)
    val lo = sys.env.getOrElse("SPARK_GRAFT_CPUS_LO", "2").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_CPUS_HI", "8").toInt
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    // alternate levels across repeated trials and take the per-level MIN —
    // robust to the sandbox's bursty background load; min wall-clock is the
    // contention-free capability of each level.
    var nTriples = -1L
    val times = scala.collection.mutable.Map(lo -> List.empty[Double], hi -> List.empty[Double])
    for (_ <- 1 to trials; cpus <- Seq(lo, hi)) {
      val (n, sec) = trial(cpus, pages)
      if (nTriples < 0) nTriples = n
      require(n == nTriples, s"determinism violation: $n vs $nTriples triples")
      times(cpus) = sec :: times(cpus)
    }
    val sLo = times(lo).min
    val sHi = times(hi).min
    val thLo = pages / sLo
    val thHi = pages / sHi
    val eff = (thHi / thLo) / (hi.toDouble / lo)
    val allLo = times(lo).reverse.mkString("[", ",", "]")
    val allHi = times(hi).reverse.mkString("[", ",", "]")
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio","pages":$pages,"cpus_lo":$lo,"cpus_hi":$hi,"sec_lo":$sLo,"sec_hi":$sHi,"trials_lo":$allLo,"trials_hi":$allHi,"pages_per_sec_lo":$thLo,"pages_per_sec_hi":$thHi,"triples":$nTriples}""")
  }
}
