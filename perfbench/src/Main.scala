package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.kg.{Gen, Lineage, Page, Pipeline}

/** The graft benchmark: the production KG path (pages parquet →
  * `Pipeline.runCheckpointed` → `edges`/`nodes` snapshots) on one seeded
  * corpus per KG workload, and the heaviest `SparkEntry.queries` on the
  * `battery` workload. See perfbench/README.md for the workloads and the
  * metrics. Invoked by perfbench/run.py:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR [--pin FILE]
  *
  * The last stdout line is the result object; everything else goes to
  * stderr. */
object Main {

  final case class Workload(name: String, pages: Long, diverse: Boolean)

  val workloads: Map[String, Workload] = Seq(
    Workload("kg_templated", 8000, diverse = false),
    Workload("kg_diverse", 1500, diverse = true),
    Workload("battery", 0, diverse = false),
  ).map(w => w.name -> w).toMap

  val Buckets = 32
  val SetupRounds = 3
  val MinReps = 3
  val MaxReps = 40
  /** Pages timed phase by phase on one thread in the traced run. */
  val KernelSamplePages = 1000
  /** Pages whose scored rows are recomputed without the kernel's memo. */
  val ScoreCheckPages = 300
  val Steps = Seq("score_write", "bucket_count", "edges_write", "nodes_write", "snapshot_count")

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path,
      data: Path, pin: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workloads.getOrElse(need("workload"), throw new IllegalArgumentException(
      s"unknown workload ${need("workload")}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    Args(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", Paths.get(need("work")),
      Paths.get(need("data")), kv.get("pin").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // half the vCPUs run Spark tasks; the rest are left to the JIT compiler
    // (which keeps compiling through the timed operations), GC, the thread
    // that plans and schedules the jobs, and the host's other tenants
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    Files.createDirectories(args.work)
    HeapWatch.install()
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${args.workload.name}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", args.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    if (args.workload.name == "battery") println(new BatteryRun(args, () => session()).run())
    else {
      val spark = session()
      try println(new Run(spark, args).run())
      finally spark.stop()
    }
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def delete(p: Path): Unit = Lineage.deleteRecursively(p.toString)

  /** Every per-layer metric, with its unit. */
  lazy val layerUnits: Seq[(String, String)] = Seq(
    "extract.ns_per_page" -> "ns", "segment.ns_per_page" -> "ns", "mentions.ns_per_sentence" -> "ns",
    "mentions.pairs_per_page" -> "count", "score.ns_per_call" -> "ns", "score.calls" -> "count",
    "memo.candidate_pairs" -> "count", "memo.hit_ratio" -> "ratio", "featurize.errors" -> "count",
  ) ++ Steps.flatMap(s => Seq(s"stage.$s.run_s" -> "s", s"stage.$s.cpu_s" -> "s",
    s"stage.$s.gc_s" -> "s", s"stage.$s.shuffle_bytes" -> "bytes", s"stage.$s.spill_bytes" -> "bytes",
    s"stage.$s.output_bytes" -> "bytes", s"stage.$s.skew" -> "ratio")) ++ Seq(
    "stage.other.run_s" -> "s", "scan.input_bytes" -> "bytes", "output.files" -> "count",
    "output.bytes_per_page" -> "bytes",
  ) ++ BatteryRun.Queries.map(q => s"query.${q}_s" -> "s") ++ Seq(
    "query.p50_s" -> "s", "query.p90_s" -> "s", "battery.shuffle_bytes" -> "bytes",
    "battery.shuffle_stages" -> "count", "battery.gc_s" -> "s",
    "q_graph_components.skew" -> "ratio", "q_dedup_clusters.skew" -> "ratio",
    "traced.wall_s" -> "s")

  /** The per-layer metrics of a traced run, in the order of [[layerUnits]]:
    * every workload prints every per-layer metric, 0 for the layers it does
    * not run (`measured` holds those it does). */
  def layerMetrics(measured: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = measured.keySet -- layerUnits.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the per-layer list: ${unknown.mkString(", ")}")
    layerUnits.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
  }

  /** The trace file of a traced run, next to the run's work directory. */
  def writeTrace(args: Args, body: String): Unit = {
    val file = args.work.getParent.resolve(s"trace-${args.workload.name}-seed${args.seed}.json")
    Files.write(file, body.getBytes("UTF-8"))
    System.err.println(s"[perfbench] trace written to $file")
  }
}

/** One KG benchmark invocation: set-up rounds, the timed loop, the checks
  * and, when tracing, the per-layer breakdown. */
final class Run(spark: SparkSession, args: Main.Args) {
  import Main._
  import spark.implicits._

  private val wl = args.workload
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  // attached in untraced runs too: it sums the tasks' CPU time for cpu_s
  private val listener = new StageListener(tracer)
  sc.addSparkListener(listener)

  /** Spans only exist in the traced run; the untraced run calls straight through. */
  private def within[T](name: String, parent: Long)(body: Long => T): T =
    if (args.trace) tracer.span(name, parent, sc)(body) else body(0L)

  private def writeTable(path: Path): Unit = {
    val (seed, n, diverse) = (args.seed, wl.pages, wl.diverse)
    spark.range(0L, n, 1L, 4 * sc.defaultParallelism)
      .map(i => if (diverse) Corpus.page(seed, i) else Gen.page(seed, i))
      .write.parquet(path.toString)
  }

  private def pages(table: Path) = spark.read.parquet(table.toString).as[Page]

  private def publish(table: Path, out: Path): Pipeline.RunReport =
    Pipeline.runCheckpointed(spark, pages(table), out.toString, buckets = Buckets)

  /** Order-independent content digest of an edges table, with its row
    * count and support total. */
  private def edgesDigest(df: org.apache.spark.sql.DataFrame): (String, Long, Long, Set[String]) = {
    val rows = df.select("subject_id", "relation", "object_id", "confidence", "support").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    val lines = rows.map { case (s, p, o, c, n) =>
      s"$s\t$p\t$o\t${java.lang.Double.doubleToLongBits(c)}\t$n" }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    (hex, rows.length.toLong, rows.map(_._5).sum, rows.flatMap(r => Seq(r._1, r._3)).toSet)
  }

  /** The gates on one published graph; None when every one holds. */
  private def check(out: Path, report: Pipeline.RunReport, expected: (String, Long)): Option[String] = {
    val (digest, n, support, ids) = edgesDigest(Lineage.readTable(spark, out.toString, "edges"))
    val raw = spark.read.parquet(out.resolve("triples_raw").toString).count()
    val nodes = Lineage.readTable(spark, out.toString, "nodes").count()
    if (digest != expected._1 || n != expected._2)
      Some(s"edges snapshot ($n rows, $digest) != extractTriples (${expected._2} rows, ${expected._1})")
    else if (report.triples != n) Some(s"report says ${report.triples} triples, snapshot has $n")
    else if (support != raw) Some(s"sum(support) $support != triples_raw rows $raw")
    else if (nodes != ids.size) Some(s"nodes snapshot has $nodes rows, edges name ${ids.size} ids")
    else None
  }

  /** The scoring kernel against a computation that shares neither its memo
    * nor its blanking: `Pipeline.scorePages` over the first pages of the
    * table must emit exactly the rows and the featurize-error count of
    * [[Kernel.referenceScores]]. None when it does. */
  private def scorerCheck(table: Path): Option[String] = {
    val sample = pages(table).limit(ScoreCheckPages).collect().toSeq
    val bundle = Pipeline.buildBundle()
    val bc = sc.broadcast(bundle)
    val errors = sc.longAccumulator("perfbench_featurize_errors")
    val got = Pipeline.scorePages(spark, spark.createDataset(sample), bc, Some(errors)).collect().toSeq
    bc.destroy()
    val (want, wantErrors) = Kernel.referenceScores(sample, bundle)
    def lines(rows: Seq[graft.kg.ScoredPair]) = rows.map(r =>
      r.copy(confidence = 0.0).toString + java.lang.Double.doubleToLongBits(r.confidence)).sorted
    if (lines(got) != lines(want))
      Some(s"scorePages emitted ${got.length} rows over $ScoreCheckPages pages, the memo-free " +
        s"reference ${want.length}" + (if (got.length == want.length) ", with other content" else ""))
    else if (errors.value != wantErrors)
      Some(s"scorePages counted ${errors.value} featurize errors, the reference $wantErrors")
    else None
  }

  private final case class Rep(spanId: Long, seconds: Double, cpuS: Double, errors: Long,
      files: Int, bytes: Long)

  def run(): String = {
    val root = tracer.nextId()
    val work = args.work
    // set-up: write the seed's pages table, then publish it once untimed to
    // warm the JIT and Spark's code paths (the first round, in a cold JVM,
    // takes about 3x a warm one); repeated so that the median is stable
    val setupS = (1 to SetupRounds).map { r =>
      val t = System.nanoTime()
      within(s"setup#$r", root) { _ =>
        if (r > 1) delete(work.resolve(s"pages-${r - 1}"))
        writeTable(work.resolve(s"pages-$r"))
        val warm = work.resolve(s"warm-$r")
        publish(work.resolve(s"pages-$r"), warm)
        delete(warm)
      }
      (System.nanoTime() - t) / 1e9
    }
    val table = work.resolve(s"pages-$SetupRounds")

    val expected = within("expected", root) { _ =>
      val (digest, n, _, _) = edgesDigest(Pipeline.extractTriples(spark, pages(table)))
      (digest, n)
    }
    val scorer = within("scorer_check", root)(_ => scorerCheck(table))
    scorer.foreach(why => System.err.println(s"[perfbench] scorer check failed: $why"))
    System.err.println(s"[perfbench] ${wl.name} seed=${args.seed}: ${wl.pages} pages, " +
      s"expected ${expected._2} edges, setup ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    val reps = mutable.ArrayBuffer.empty[Rep]
    // the scorer check counts as one attempted operation
    var attempted = 1
    var failed = scorer.size
    var timed = 0.0
    val wallStart = System.nanoTime()
    HeapWatch.reset()
    while ((timed < args.seconds || reps.size < MinReps) && attempted <= MaxReps &&
        (System.nanoTime() - wallStart) / 1e9 < 4 * args.seconds + 60) {
      attempted += 1
      val out = work.resolve(s"out-$attempted")
      try {
        var spanId = 0L
        // every rep starts from a collected heap, so no rep pays for the
        // garbage of set-up or of the checks
        System.gc()
        HeapWatch.start()
        val cpu0 = listener.taskCpuNs(sc)
        val t = System.nanoTime()
        val report = within(s"rep#$attempted", root) { id => spanId = id; publish(table, out) }
        val secs = (System.nanoTime() - t) / 1e9
        val cpuS = (listener.taskCpuNs(sc) - cpu0) / 1e9
        HeapWatch.stop()
        timed += secs
        val files = Files.walk(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        within(s"check#$attempted", root)(_ => check(out, report, expected)) match {
          case None =>
            reps += Rep(spanId, secs, cpuS, report.errors,
              files.count(_.toString.endsWith(".parquet")), files.map(Files.size).sum)
          case Some(why) =>
            failed += 1
            System.err.println(s"[perfbench] rep $attempted failed its check: $why")
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] rep $attempted threw:")
          e.printStackTrace()
      } finally delete(out)
    }
    System.err.println(s"[perfbench] ${reps.size} reps ok, $failed failed; pages/s " +
      reps.map(r => f"${wl.pages / r.seconds}%.0f").mkString(" ") + "; task CPU s " +
      reps.map(r => f"${r.cpuS}%.3f").mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("cpu_s", medianOr0(reps.map(_.cpuS).toSeq), "s"),
        ("setup_s", median(setupS), "s"),
        ("peak_live_heap_mb", HeapWatch.peakMb, "MB"))
      else layers(root, table, reps.toSeq)
    val correct = failed == 0 && reps.nonEmpty && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    delete(table)
    Json.result(correct, attempted, failed, metrics)
  }

  /** Per-layer metrics of the traced run, and the trace file. */
  private def layers(root: Long, table: Path, reps: Seq[Rep]): Seq[(String, Double, String)] = {
    val (pairs, distinct) = within("memo_counts", root)(_ => Kernel.memoCounts(spark, table.toString))
    val sample = within("kernel_sample", root) { _ =>
      spark.read.parquet(table.toString).select("html").limit(KernelSamplePages).as[Array[Byte]].collect().toSeq
    }
    val phases = within("kernel_phases", root)(_ => Kernel.phases(sample))
    listener.drain(sc)
    val stages = listener.stages
    // a job's group names the span it ran under: here, the rep's publish
    val byRep = stages.groupBy(s => Tracer.spanOf(s.group))
    // table writes in Pipeline.scala, in source order: triples_raw, edges, nodes
    val writeLines = stages.filter(s => s.callSite._2 == "Pipeline.scala" && s.isWrite)
      .map(_.callSite._3).distinct.sorted
    def step(s: StageStats): String = s.callSite match {
      case (_, "Pipeline.scala", line) if s.isWrite && writeLines.indexOf(line) < 3 =>
        Seq("score_write", "edges_write", "nodes_write")(writeLines.indexOf(line))
      case ("collect", "Pipeline.scala", _) => "bucket_count"
      case ("count", "Pipeline.scala", _) => "snapshot_count"
      case _ => "other"
    }
    def perRep(f: Seq[StageStats] => Double): Double =
      medianOr0(reps.map(r => f(byRep.getOrElse(r.spanId, Nil))))
    val stepMetrics = (Steps :+ "other").flatMap { name =>
      def of(ss: Seq[StageStats]) = ss.filter(step(_) == name)
      val all = Seq(
        s"stage.$name.run_s" -> perRep(of(_).map(_.runS).sum),
        s"stage.$name.cpu_s" -> perRep(of(_).map(_.cpuNs / 1e9).sum),
        s"stage.$name.gc_s" -> perRep(of(_).map(_.gcMs / 1e3).sum),
        s"stage.$name.shuffle_bytes" -> perRep(of(_).map(_.shuffleWriteBytes.toDouble).sum),
        s"stage.$name.spill_bytes" -> perRep(of(_).map(_.spillBytes.toDouble).sum),
        s"stage.$name.output_bytes" -> perRep(of(_).map(_.outputBytes.toDouble).sum),
        s"stage.$name.skew" -> perRep(ss => of(ss).sortBy(-_.taskSumMs).headOption.map(_.skew).getOrElse(1.0)))
      if (name == "other") all.take(1) else all
    }
    val metrics = layerMetrics(Map(
      "extract.ns_per_page" -> phases.extractNsPerPage,
      "segment.ns_per_page" -> phases.segmentNsPerPage,
      "mentions.ns_per_sentence" -> phases.mentionsNsPerSentence,
      "mentions.pairs_per_page" -> phases.pairsPerPage,
      "score.ns_per_call" -> phases.scoreNsPerCall,
      "score.calls" -> distinct.toDouble,
      "memo.candidate_pairs" -> pairs.toDouble,
      "memo.hit_ratio" -> (if (pairs == 0) 0.0 else 1.0 - distinct.toDouble / pairs),
      "featurize.errors" -> medianOr0(reps.map(_.errors.toDouble)),
      "scan.input_bytes" -> perRep(_.map(_.inputBytes.toDouble).sum),
      "output.files" -> medianOr0(reps.map(_.files.toDouble)),
      "output.bytes_per_page" -> medianOr0(reps.map(_.bytes.toDouble / wl.pages)),
      "traced.wall_s" -> (if (reps.isEmpty) 0.0 else reps.map(_.seconds).min),
    ) ++ stepMetrics)
    writeTrace(args, Json.traceFile(wl.name, args.seed, tracer, stages, step, metrics))
    metrics
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
        .mkString(",") + "}}"

  /** Spans (times in ns from the run's start), per-stage task metrics with
    * the step or query each belongs to, and the per-layer metrics of one
    * traced run. */
  def traceFile(workload: String, seed: Long, tracer: Tracer, stages: Seq[StageStats],
      label: StageStats => String, metrics: Seq[(String, Double, String)]): String = {
    val spans = tracer.spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"start_ns":${s.startNs - tracer.t0},""" +
        s""""end_ns":${s.endNs - tracer.t0},"parent":${s.parent}}"""
    }
    val st = stages.map { s =>
      s"""{"stage":${s.stageId},"job":${s.jobId},"group":${str(String.valueOf(s.group))},""" +
        s""""call_site":${str(s.name)},"step":${str(label(s))},"run_s":${num(s.runS)},""" +
        s""""tasks":${s.taskRunMs.length},"task_ms_sum":${s.taskSumMs},"skew":${num(s.skew)},""" +
        s""""cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${s.shuffleReadBytes},"spill_bytes":${s.spillBytes},""" +
        s""""output_bytes":${s.outputBytes},"input_bytes":${s.inputBytes}}"""
    }
    val ms = metrics.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
    s"""{"workload":${str(workload)},"seed":$seed,"spans":[""" + spans.mkString(",\n") +
      "],\n\"stages\":[" + st.mkString(",\n") + "],\n\"metrics\":{" + ms.mkString(",\n") + "}}\n"
  }
}
