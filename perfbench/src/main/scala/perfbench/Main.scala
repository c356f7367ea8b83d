package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.chaining._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The generator's manifest.json: input digest and planted truth. */
final class Manifest(root: JsonNode) {
  val digest: String = root.get("input_digest").asText()
  val truth: Manifest.Fields = new Manifest.Fields(root.get("truth"))
  def json: JsonNode = root
}

object Manifest {
  final class Fields(n: JsonNode) {
    def int(k: String): Int = field(k).asInt()
    def long(k: String): Long = field(k).asLong()
    def double(k: String): Double = field(k).asDouble()
    def string(k: String): String = field(k).asText()
    private def field(k: String) =
      Option(n.get(k)).getOrElse(throw new IllegalStateException(s"manifest lacks truth.$k"))
  }
  def read(path: String): Manifest = new Manifest(new ObjectMapper().readTree(Paths.get(path).toFile))
}

/** The generator's truth.json: planted truth tables as column lists. */
final class Truth(root: JsonNode) {
  private def column(table: String, col: String) =
    Option(root.get(table)).flatMap(t => Option(t.get(col))).getOrElse(
      throw new IllegalStateException(s"truth lacks $table.$col")).asScala.toArray
  def longs(table: String, col: String): Array[Long] = column(table, col).map(_.asLong())
  def ints(table: String, col: String): Array[Int] = column(table, col).map(_.asInt())
  def doubles(table: String, col: String): Array[Double] = column(table, col).map(_.asDouble())
  def strings(table: String, col: String): Array[String] = column(table, col).map(_.asText())
}

object Truth {
  def read(path: String): Truth = new Truth(new ObjectMapper().readTree(Paths.get(path).toFile))
}

/**
 * Runs one workload in one JVM with one local SparkSession:
 *  1. set-up: session start and one warm-up repetition on a slice of the
 *     input, timed from JVM start (`setup_s`);
 *  2. untraced repetitions over the whole input for the measured window,
 *     giving the end-to-end metrics;
 *  3. with --trace 1 instead: two untraced repetitions, traced ones for
 *     the measured window, one untraced repetition, giving the per-layer
 *     metrics, the tracing overhead (traced against the two untraced ones
 *     around them) and the trace file.
 * Writes one JSON result object to --result and context to --context.
 */
object Main {
  val Layers: Seq[String] = Seq("io", "core", "ts", "models", "stats", "text", "graph", "sim",
    "streaming")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val inputDir = opt("input")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val manifest = Manifest.read(s"$inputDir/manifest.json")
    val truth = Truth.read(s"$inputDir/truth.json")
    val workload: Workload = workloadName match {
      case "panel_forecast" => new PanelForecast(inputDir, manifest, truth, work)
      case "corpus_dedup_search" => new CorpusDedupSearch(inputDir, manifest, truth)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** One repetition: its wall time and figures, or None if it threw. */
    def once(rep: Rep, warmup: Boolean): Option[(Double, RepStats, Rep)] = {
      val t0 = System.nanoTime()
      val stats = try Some(rep.span("rep", s"$workloadName #${rep.number}")(workload.run(rep, warmup)))
      catch {
        case e: Exception =>
          rep.attempted += 1
          rep.failed += 1
          rep.failures += s"exception: $e"
          e.printStackTrace()
          None
      } finally rep.release()
      attempted += rep.attempted
      failed += rep.failed
      failures ++= rep.failures.take(10).map(f => if (warmup) s"warm-up: $f" else f)
      stats.map(s => ((System.nanoTime() - t0) / 1e9, s, rep))
    }

    // ---- set-up: JVM start → session → one warm-up repetition on a slice
    // of the input. Its cost (class loading, Spark start, first-time code
    // generation and JIT) is paid once per process, so it runs once.
    val spark = session(cores)
    once(new Rep(spark, None, -1), warmup = true)
    val setupSeconds = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // ---- measured repetitions
    val calBefore = Calibration.sampleMs()
    def repeat(tracer: Option[Tracer], budget: Double, first: Int) = {
      val start = System.nanoTime()
      Iterator.from(first)
        .takeWhile(n => n == first || (System.nanoTime() - start) / 1e9 < budget)
        .flatMap(n => once(new Rep(spark, tracer, n), warmup = false)).toSeq
    }

    // untraced repetitions give the end-to-end metrics. A traced run warms
    // up with one more repetition and brackets its traced repetitions with
    // one untraced repetition on each side, so the JIT still warming up does
    // not pass for tracing overhead.
    val plain = repeat(None, if (trace) 0.0 else seconds, 0)
    var perLayer = Map.empty[String, Double]
    var traceFile: Option[String] = None
    if (trace && plain.nonEmpty) {
      val before = repeat(None, 0.0, 1)
      val tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer)
      val traced = repeat(Some(tracer), seconds, 2)
      val spans = tracer.finish()
      spark.sparkContext.removeSparkListener(tracer)
      val after = repeat(None, 0.0, 2 + traced.size)
      val path = Paths.get(opt("trace-file"))
      Files.createDirectories(path.getParent)
      tracer.writeJsonLines(path)
      traceFile = Some(path.toString)
      if (traced.nonEmpty) {
        val untracedWall = (before ++ after).map(_._1)
        perLayer = layerMetrics(spans, traced.map(_._3)) ++ Map(
          "tracing.overhead_ratio" ->
            (median(traced.map(_._1)) / (untracedWall.sum / untracedWall.size) - 1.0),
          "jvm.peak_heap_mb" -> Jvm.peakHeapMb, "jvm.code_cache_mb" -> Jvm.codeCacheMb)
      }
    }
    spark.stop()
    val calAfter = Calibration.sampleMs()

    for (f <- failures.distinct) System.err.println(s"perfbench: FAILED $f")
    val metrics: Map[String, (Double, String)] =
      if (plain.isEmpty) Map.empty
      else if (!trace) Map(
        "setup_s" -> (setupSeconds, "s"),
        "wall_s" -> (median(plain.map(_._1)), "s"),
        "stage1_items_per_s" -> (median(plain.map(p => p._2.stage1Items / p._2.stage1Seconds)), "1/s"),
        "stage2_items_per_s" -> (median(plain.map(p => p._2.stage2Items / p._2.stage2Seconds)), "1/s"),
        "quality" -> (median(plain.map(_._2.quality)), "ratio"))
      else perLayer.map { case (k, v) => k -> (v, Units.of(k)) }

    val figures = plain.flatMap(_._3.figures.toSeq).groupMap(_._1)(_._2).map {
      case (k, vs) => k -> median(vs.toSeq)
    }
    val context = Json.write(collection.mutable.LinkedHashMap(
      "workload" -> workloadName, "seed_input_digest" -> manifest.digest,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "calibration_ms_before" -> calBefore, "calibration_ms_after" -> calAfter,
      "reps" -> plain.size,
      "rep_wall_s" -> plain.map(_._1), "failed_ratio" -> failed.toDouble / math.max(attempted, 1L),
      "workload_metrics" -> figures, "failures" -> failures.distinct.take(20).toSeq,
      "trace_file" -> traceFile, "truth" -> manifest.json))
    Files.writeString(Paths.get(opt("context")), context)
    val result = Json.write(collection.mutable.LinkedHashMap(
      "correct" -> (failed == 0 && plain.nonEmpty), "attempted" -> math.max(attempted, 1L),
      "failed" -> (if (plain.isEmpty) math.max(failed, 1L) else failed),
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(collection.mutable.LinkedHashMap)))
    Files.writeString(Paths.get(opt("result")), result)
  }

  def session(cores: Int): SparkSession =
    graft.Tables.configure(SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
      .tap(_.sparkContext.setLogLevel("WARN"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer totals of each traced repetition, then their median. */
  def layerMetrics(spans: Seq[Span], reps: Seq[Rep]): Map[String, Double] = {
    val perRep = reps.map { rep =>
      val mine = spans.filter(_.rep == rep.number)
      val calls = mine.filter(s => Layers.contains(s.layer))
      val m = mutable.LinkedHashMap.empty[String, Double]
      for (layer <- Layers) {
        val cs = calls.filter(_.layer == layer)
        val tree = cs.flatMap(Trace.subtree(_, mine))
        m(s"$layer.busy_s") = cs.map(_.seconds).sum
        m(s"$layer.self_s") = cs.map(Trace.selfSeconds(_, mine)).sum
        m(s"$layer.cpu_s") = tree.map(_.cpuNs).sum / 1e9
        m(s"$layer.gc_s") = tree.map(_.gcMs).sum / 1e3
        m(s"$layer.calls") = cs.size
        m(s"$layer.rows_out") = cs.map(_.rowsOut).sum.toDouble
        m(s"$layer.jobs") = tree.map(_.jobs.size).sum
        m(s"$layer.tasks") = tree.map(_.tasks).sum.toDouble
        m(s"$layer.shuffle_bytes") = tree.map(_.shuffleWriteBytes).sum.toDouble
      }
      m("ts.cpu_wall_ratio") = if (m("ts.busy_s") > 0) m("ts.cpu_s") / m("ts.busy_s") else 0.0
      // connected-components rounds: one convergence check (one SQL
      // execution) per round inside the cluster call
      m("graph.rounds") = calls.filter(_.layer == "graph").flatMap(Trace.subtree(_, mine))
        .flatMap(_.jobs).filter(_.callSite.startsWith("isEmpty at ConnectedComponents"))
        .map(_.sqlExecution).distinct.size
      for (k <- Units.workloadLayerFigures) m(k) = rep.figures.getOrElse(k, 0.0)
      m.toMap
    }
    perRep.head.keys.map(k => k -> median(perRep.map(_(k)))).toMap
  }
}

object Units {
  val workloadLayerFigures: Seq[String] = Seq("models.fits_ok_ratio", "text.candidate_pairs",
    "text.verified_pairs", "text.verify_yield", "sim.candidates_per_query",
    "streaming.planning_ms", "streaming.commit_ms", "streaming.state_rows",
    "streaming.state_bytes", "streaming.late_dropped")

  def of(metric: String): String = metric.substring(metric.indexOf('.') + 1) match {
    case "busy_s" | "self_s" | "cpu_s" | "gc_s" => "s"
    case "shuffle_bytes" | "state_bytes" => "bytes"
    case "planning_ms" | "commit_ms" => "ms"
    case "peak_heap_mb" | "code_cache_mb" => "MB"
    case "cpu_wall_ratio" | "fits_ok_ratio" | "verify_yield" | "overhead_ratio" => "ratio"
    case _ => "count"
  }
}

object Jvm {
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}

/** An engine-free CPU sample, timed before and after a run, so a run slowed
  * by the host (not by the program) can be told apart afterwards. */
object Calibration {
  def sampleMs(): Double = {
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var i = 0
      while (i < 10000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xffff).toDouble * 1e-9
        i += 1
      }
      if (acc == -1.0) println(acc)
      (System.nanoTime() - t0) / 1e6
    }
    Main.median(times)
  }
}
