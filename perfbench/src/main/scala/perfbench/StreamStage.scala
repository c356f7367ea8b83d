package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.StreamingResample
import graft.ts.TimeSeriesOps

/**
 * The stream stage of panel_forecast: event files with out-of-order and late
 * events, replayed as a closed loop (one file per micro-batch; the next batch
 * starts when the previous one has committed) through the watermarked
 * tumbling resample, with the same bucket semantics as the batch resample.
 * Every replay checks the stream's final buckets against the batch resample
 * of the on-time events, and the watermark's drop count against the planted
 * late events.
 */
final class StreamStage(dir: String, manifest: Manifest, truth: Truth, work: String) {
  private val t = manifest.truth
  private val widthUs = t.long("bucket_width_us")
  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("key", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))
  private val late = truth.longs("late_events", "event_id")

  /** Replays the event files (the first three for a warm-up); returns
    * (events, seconds). */
  def replay(rep: Rep, warmup: Boolean): (Long, Double) = {
    val spark = rep.spark
    val nFiles = if (warmup) 3 else t.int("stream_files")
    val src = s"$dir/input/events" + (if (warmup) "/events-0000[0-2].parquet" else "")
    // event ids run file by file
    val lateIn = late.count(_ < nFiles * (t.long("stream_events") / t.int("stream_files")))
    val checkpoint = Paths.get(work, s"checkpoint-${rep.number}")
    delete(checkpoint)
    val emitted = mutable.HashMap.empty[(String, Long), Double]
    val sum = (c: Column) => org.apache.spark.sql.functions.sum(c)

    // state-store partitions sized from the input bytes, as the engine's
    // own stream replays do: one partition per 32 MiB, at most one per core
    val partitions = "spark.sql.shuffle.partitions"
    val cores = spark.conf.get(partitions)
    val bytes = Files.list(Paths.get(dir, "input", "events")).iterator().asScala
      .map(Files.size).sum
    spark.conf.set(partitions, math.max(1L, math.min(cores.toLong, bytes / (32L << 20) + 1)).toString)

    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L).parquet(src)
    var progress: Array[StreamingQueryProgress] = Array.empty
    val t0 = System.nanoTime()
    try rep.value("streaming", "StreamingResample.tumblingModes",
        (_: Unit) => emitted.size.toLong) {
      val out = StreamingResample.tumblingModes(stream, widthUs, sum, closedRight = false,
        stampRight = false, watermark = t.string("watermark"))
      rep.span("sink", "StreamingResample.tumblingModes") {
        val q = out.writeStream.outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", checkpoint.toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // update mode: each batch re-emits the buckets it changed
            for (r <- batch.collect())
              emitted((r.getString(0), r.getTimestamp(1).getTime * 1000L)) = r.getDouble(2)
          }.start()
        q.awaitTermination()
        progress = q.recentProgress
      }
    } finally spark.conf.set(partitions, cores)
    val seconds = (System.nanoTime() - t0) / 1e9
    delete(checkpoint)

    val data = progress.filter(_.numInputRows > 0)
    val events = data.map(_.numInputRows).sum
    rep.check("one micro-batch per file", data.length == nFiles, s"${data.length}")
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    rep.check("late events dropped by the watermark = planted late events",
      dropped == lateIn, s"$dropped vs $lateIn")

    // batch parity: the batch resample of the on-time events
    val onTime = spark.read.schema(schema).parquet(src)
      .filter(!col("event_id").isin(late.toSeq: _*))
      .select(col("key"), (unix_micros(col("ts")) * 1000L).as("ts_nanos"), col("value"))
    val (_, reference) = rep.collected("ts", "TimeSeriesOps.resample")(
      TimeSeriesOps.resample(onTime, widthUs * 1000L, sum))
    val mismatched = reference.count { r =>
      emitted.get((r.getString(0), r.getLong(1) / 1000L)).forall { v =>
        math.abs(v - r.getDouble(2)) > 1e-9 * math.max(1.0, math.abs(v))
      }
    } + math.max(0, emitted.size - reference.length)
    rep.items("stream buckets equal the batch resample", reference.length, mismatched)

    val durations = data.map(_.batchDuration.toDouble)
    rep.figures("batch_p50_ms") = Main.median(durations.toSeq)
    rep.figures("batch_p90_ms") = percentile(durations, 0.9)
    rep.figures("batch_samples") = durations.length
    rep.figures("events_per_s") = events / seconds
    def ms(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    rep.figures("streaming.planning_ms") = data.map(ms(_, "queryPlanning")).sum / data.length
    rep.figures("streaming.commit_ms") =
      data.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).sum / data.length
    val ops = progress.flatMap(_.stateOperators)
    rep.figures("streaming.state_rows") = ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
    rep.figures("streaming.state_bytes") =
      ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble
    rep.figures("streaming.late_dropped") = dropped.toDouble
    (events, seconds)
  }

  private def percentile(xs: Array[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1))
  }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }
}
