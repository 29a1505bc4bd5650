package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** Order-independent content digest of a query result: columns sorted by
  * name, every value rendered deterministically (doubles at 11 significant
  * digits, which absorbs last-ulp noise from distributed sums), rows sorted,
  * SHA-256 over the lot. */
object Digest {
  private def fmt(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case d: Double => "%.10e".format(d)
    case f: Float => "%.6e".format(f)
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => fmt(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  /** The query's columns in name order, so that the digest does not depend
    * on column order. */
  def sortedColumns(df: DataFrame): DataFrame = df.select(df.columns.sorted.toSeq.map(col): _*)

  def of(rows: Array[Row]): String = {
    val lines = rows.map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The `battery` workload: the heaviest `SparkEntry.queries`, in name order
  * (the order `graft.Bench` runs them), on the sf0.001 tables under
  * perfbench/data. Every pass, set-up passes included, runs in a fresh
  * session, so the shared artifacts the queries build once per session
  * (minhash signatures, LSH pair tables) are paid inside the pass, as any
  * caller that runs the battery in a new session pays them. */
final class BatteryRun(args: Main.Args, newSession: () => SparkSession) {
  import Main._
  import BatteryRun._

  private val dir = args.data.toString
  /** With --pin, every query, so that the pinned file covers the whole battery. */
  private val names = if (args.pin.isDefined) SparkEntry.queries.keys.toSeq.sorted else Queries
  private val pinned: Map[String, (Long, String)] =
    if (args.pin.isDefined) Map.empty
    else Files.readAllLines(args.data.getParent.resolve("battery_expected.tsv")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, digest) = l.split("\t")
        n -> (rows.toLong, digest)
      }.toMap
  private val tracer = new Tracer

  private final case class Q(name: String, seconds: Double, rows: Long, digest: String, error: Option[String])

  /** One pass over the battery in `spark`. A query that throws is reported
    * with its exception. */
  private def pass(spark: SparkSession, parent: Long): Seq[Q] = names.map { name =>
    val fn = SparkEntry.queries(name)
    val t = System.nanoTime()
    try {
      // the timed action consumes every column of every row
      def body(id: Long) = Digest.sortedColumns(fn(spark, dir)).collect()
      val rows = if (args.trace) tracer.span(s"query:$name", parent, spark.sparkContext)(body) else body(0L)
      val secs = (System.nanoTime() - t) / 1e9
      Q(name, secs, rows.length.toLong, Digest.of(rows), None)
    } catch {
      case e: Exception =>
        val w = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(w))
        Q(name, (System.nanoTime() - t) / 1e9, -1L, "", Some(w.toString))
    }
  }

  /** None when the query ran and its result matches the pinned row count
    * and digest. */
  private def check(q: Q): Option[String] = q.error match {
    case Some(e) => Some(s"threw: $e")
    case None => pinned.get(q.name) match {
      case _ if args.pin.isDefined => None
      case None => Some("no pinned result in battery_expected.tsv")
      case Some((rows, digest)) if rows != q.rows || digest != q.digest =>
        Some(s"${q.rows} rows, digest ${q.digest}; pinned $rows rows, digest $digest")
      case _ => None
    }
  }

  private final case class Pass(seconds: Double, cpuS: Double, queries: Seq[Q], stages: Seq[StageStats])

  def run(): String = {
    val root = tracer.nextId()
    var attempted = 0
    var failed = 0
    /** Runs one pass in a fresh session; the pass is kept when every query
      * of it ran and matched its pinned result. */
    def session(timed: Boolean): (Double, Option[Pass]) = {
      val t0 = System.nanoTime()
      val spark = newSession()
      // attached in untraced runs too: it sums the tasks' CPU time for cpu_s
      val listener = new StageListener(tracer)
      spark.sparkContext.addSparkListener(listener)
      try {
        System.gc()
        if (timed) HeapWatch.start()
        val t = System.nanoTime()
        val qs = pass(spark, root)
        val secs = (System.nanoTime() - t) / 1e9
        HeapWatch.stop()
        val cpuS = listener.taskCpuNs(spark.sparkContext) / 1e9
        val bad = qs.flatMap(q => check(q).map(why => s"${q.name}: $why"))
        attempted += qs.size
        failed += bad.size
        bad.foreach(b => System.err.println(s"[perfbench] query $b"))
        System.err.println(f"[perfbench] ${if (timed) "timed" else "set-up"} pass: $secs%.2f s, " +
          f"task CPU $cpuS%.2f s; " + qs.map(q => f"${q.name}=${q.seconds}%.2f").mkString(" "))
        val p = Pass(secs, cpuS, qs, listener.stages)
        args.pin.filter(_ => timed).foreach { file =>
          Files.write(file, qs.map(q => s"${q.name}\t${q.rows}\t${q.digest}\n").mkString.getBytes("UTF-8"))
        }
        ((System.nanoTime() - t0) / 1e9, if (bad.isEmpty) Some(p) else None)
      } finally spark.stop()
    }

    // set-up: a fresh session and one warm-up pass, three times; the first
    // runs in a cold JVM and takes about 2.5x a warm pass, the second 1.2x
    val setupS = (1 to SetupRounds).map(_ => session(timed = false)._1)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val wallStart = System.nanoTime()
    var timedS = 0.0
    while ((timedS < args.seconds || passes.isEmpty) && attempted < 50 * names.size &&
        (System.nanoTime() - wallStart) / 1e9 < 4 * args.seconds + 60) {
      session(timed = true)._2.foreach { p => passes += p; timedS += p.seconds }
    }

    val metrics =
      if (!args.trace) Seq(
        ("cpu_s", medianOr0(passes.map(_.cpuS).toSeq), "s"),
        ("setup_s", median(setupS), "s"),
        ("peak_live_heap_mb", HeapWatch.peakMb, "MB"))
      else layers(passes.toSeq)
    val correct = failed == 0 && passes.nonEmpty
    Json.result(correct, attempted, failed, metrics)
  }

  /** Per-layer metrics of the traced run, and the trace file. */
  private def layers(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val queryOf: Map[Long, String] = tracer.spans.collect {
      case s if s.name.startsWith("query:") => s.id -> s.name.stripPrefix("query:")
    }.toMap
    def label(s: StageStats): String = queryOf.getOrElse(Tracer.spanOf(s.group), "other")
    def perPass(f: Pass => Double): Double = medianOr0(passes.map(f))
    def skew(q: String): Double = perPass(_.stages.filter(label(_) == q)
      .sortBy(-_.taskSumMs).headOption.map(_.skew).getOrElse(1.0))
    def quantile(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.length).toInt - 1))
    }
    val metrics = layerMetrics(Queries.map(q =>
      s"query.${q}_s" -> perPass(_.queries.find(_.name == q).get.seconds)).toMap ++ Map(
      "query.p50_s" -> perPass(p => quantile(p.queries.map(_.seconds), 0.5)),
      "query.p90_s" -> perPass(p => quantile(p.queries.map(_.seconds), 0.9)),
      "battery.shuffle_bytes" -> perPass(_.stages.map(_.shuffleWriteBytes.toDouble).sum),
      "battery.shuffle_stages" -> perPass(_.stages.count(_.shuffleWriteBytes > 0).toDouble),
      "battery.gc_s" -> perPass(_.stages.map(_.gcMs / 1e3).sum),
      "q_graph_components.skew" -> skew("q_graph_components"),
      "q_dedup_clusters.skew" -> skew("q_dedup_clusters"),
      "traced.wall_s" -> (if (passes.isEmpty) 0.0 else passes.map(_.seconds).min)))
    writeTrace(args, Json.traceFile(args.workload.name, args.seed, tracer, passes.flatMap(_.stages), label, metrics))
    metrics
  }
}

object BatteryRun {
  /** Two of the heaviest queries of a warm pass over all 100 on 4 cores
    * at sf0.001, in name order: near-duplicate clustering (`graft.ops.Dedup`)
    * and connected components, the two whose skew the per-layer metrics
    * follow. `q_stream_window`, `q_ann_ivf_index` and `q_ann_knn`, as heavy,
    * are left out so that a run fits its time budget. */
  val Queries: Seq[String] = Seq("q_dedup_clusters", "q_graph_components")
}
