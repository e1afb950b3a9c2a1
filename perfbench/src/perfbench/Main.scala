package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Timed operations of one run: latency per operation, attempts, failures.
  * An operation that throws counts as failed; the output checks in run.py
  * add their mismatches on top. */
object Ops {
  val latencies = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** Time spent in bookkeeping inside a pass that is not the workload's. */
  var excludedNs = 0L
  /** Off during warm-up: operations then run unrecorded and may throw. */
  var recording = true

  def apply[T](name: String)(body: => T): Option[T] = {
    if (!recording) return Some(body)
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Some(Trace.op(name)(body)) catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$name: $e"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    latencies += dt
    r
  }

  /** Bookkeeping inside a pass: excluded from the pass time, not traced. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val tracing = Trace.enabled
    Trace.enabled = false
    try body finally {
      Trace.enabled = tracing
      excludedNs += System.nanoTime() - t0
    }
  }
}

/** One benchmark workload, driven closed-loop by a single client thread. */
trait Workload {
  /** Fixed warm-up work on a fresh session (JIT, codegen, file listing). */
  def warmup(spark: SparkSession): Unit
  /** Index or table bootstrap the timed passes rely on. */
  def buildIndex(spark: SparkSession): Unit = ()
  /** One complete run of the workload; state from earlier passes is gone. */
  def pass(spark: SparkSession, first: Boolean): Unit
  /** Writes what run.py checks against DuckDB, after the timed passes. */
  def emitOutputs(spark: SparkSession, out: String): Unit = ()
  /** Quality metrics against exact baselines, computed outside the passes. */
  def quality(spark: SparkSession): Map[String, Double] = Map.empty
  /** Traced-run counters the workload keeps itself (rows, files, pairs). */
  def layerMetrics(spark: SparkSession, rec: JobRecorder): Map[String, Double] =
    Map.empty
  /** Traced-run work outside the passes (kernel timings). */
  def traceExtras(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.length - 1, (q * s.length).toInt)) }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private def json(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => "\"" + k + "\": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    case null => "null"
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val warehouse = sys.props("spark.sql.warehouse.dir").stripPrefix("file:")
    val state = s"$out/state"
    val w: Workload = name match {
      case "etl_daily" => new EtlDaily(data, state, a("days").toInt)
      case "llm_curation" => new LlmCuration(data)
      case "query_mix" => new QueryMix(data, a("warm-data"), a("queries"), out)
      case other => sys.error(s"unknown workload $other")
    }

    // --- set-up, three times: session + warm-up + index build -----------
    val setupReps = 3
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS, sessionS, warmupS, indexS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setupReps) {
      val t0 = if (i == 0) jvmStartMs * 1000000L -
        (System.currentTimeMillis() * 1000000L - System.nanoTime()) else System.nanoTime()
      rmTree(new java.io.File(warehouse))
      rmTree(new java.io.File(state))
      val s0 = System.nanoTime()
      spark = GraftSession.create(appName = s"perfbench-$name",
        master = s"local[$cores]")
      spark.sparkContext.setLogLevel("ERROR")
      val s1 = System.nanoTime()
      Ops.recording = false
      try w.warmup(spark) finally Ops.recording = true
      val s2 = System.nanoTime()
      w.buildIndex(spark)
      val s3 = System.nanoTime()
      setupS += (s3 - t0) / 1e9
      sessionS += (s1 - s0) / 1e9
      warmupS += (s2 - s1) / 1e9
      indexS += (s3 - s2) / 1e9
      if (i < setupReps - 1) spark.stop()
    }
    val sc = spark.sparkContext
    val jobs = new JobRecorder
    val plans = new PlanRecorder
    if (traced) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    Trace.attach(sc)

    // --- timed passes, closed loop, one client --------------------------
    val wall = mutable.ArrayBuffer[Double]()
    val wallTraced = mutable.ArrayBuffer[Double]()
    val layerRuns = mutable.ArrayBuffer[Map[String, Double]]()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    // At least one pass, however short --seconds is. A traced run starts
    // with an untraced warm pass, then alternates traced and untraced
    // passes, so the tracing overhead compares passes that are equally warm.
    val minPasses = if (traced) 3 else 1
    def more = pass < minPasses ||
      elapsed + median((wall ++ wallTraced).toSeq) <= seconds
    while (more) {
      val tracing = traced && pass % 2 == 1
      if (tracing) {
        org.apache.spark.PerfbenchBus.drain(sc)
        jobs.reset(); plans.reset(); Trace.clear(); Jvm.resetHeapPeak()
      }
      val gc0 = Jvm.gcSeconds
      Ops.excludedNs = 0L
      Trace.enabled = tracing
      val t0 = System.nanoTime()
      w.pass(spark, first = pass == 0)
      val t = (System.nanoTime() - t0 - Ops.excludedNs) / 1e9
      Trace.enabled = false
      if (tracing) {
        wallTraced += t
        org.apache.spark.PerfbenchBus.drain(sc)
        layerRuns += Rollup.layers(t, cores, jobs, plans, Jvm.gcSeconds - gc0) ++
          Map("jvm.heap_peak_mb" -> Jvm.heapPeakMb) ++
          Ops.untimed(w.layerMetrics(spark, jobs))
      } else wall += t
      pass += 1
    }

    // --- outside the timed region: outputs, quality, extras -------------
    w.emitOutputs(spark, out)
    val quality = w.quality(spark)
    val extras = if (traced) w.traceExtras(spark) else Map.empty[String, Double]
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val keys = layerRuns.flatMap(_.keys).distinct
        keys.map(k => k -> median(layerRuns.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
          extras ++ quality.map { case (k, v) => s"quality.$k" -> v } ++ Map(
            "setup.session_s" -> median(sessionS.toSeq),
            "setup.warmup_s" -> median(warmupS.toSeq),
            "setup.index_build_s" -> median(indexS.toSeq),
            "trace.overhead_frac" ->
              (median(wallTraced.toSeq) / median(wall.drop(1).toSeq) - 1.0))
      }
    val result = Map(
      "workload" -> name,
      "setup_s" -> setupS.toSeq,
      "wall_s" -> wall.toSeq,
      "wall_traced_s" -> wallTraced.toSeq,
      "op_s" -> Ops.latencies.toSeq,
      "op_p50_s" -> median(Ops.latencies.toSeq),
      "op_p90_s" -> quantile(Ops.latencies.toSeq, 0.9),
      "attempted" -> Ops.attempted,
      "failed" -> Ops.failed,
      "errors" -> Ops.errors.toSeq,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "quality" -> quality,
      "per_layer" -> layers,
      "spans" -> Rollup.spanSummary(Trace.spans.toSeq, jobs),
      "span_log" -> Trace.spans.toSeq.map(s => Seq(s.id, s.op, s.name, s.parent,
        (s.start - tStart) / 1e9, (s.end - tStart) / 1e9)))
    val f = new java.io.File(s"$out/result.json")
    java.nio.file.Files.writeString(f.toPath, json(result))
    spark.stop()
  }
}
