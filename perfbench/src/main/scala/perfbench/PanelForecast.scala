package perfbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{DateTimeIndex, Frequency}
import graft.io.TimeSeriesIO
import graft.models.ModelOps
import graft.ts.TimeSeriesOps

/** Result of one repetition, besides its wall time. Each workload has two
  * stages; `items / seconds` is a stage's throughput. `quality` is the
  * workload's score against the planted truth, a ratio near or below 1,
  * higher is better. */
final case class RepStats(stage1Items: Double, stage1Seconds: Double, stage2Items: Double,
    stage2Seconds: Double, quality: Double)

trait Workload {
  /** One repetition, checked against the truth. A warm-up repetition makes
    * the same calls on a slice of the input. */
  def run(rep: Rep, warmup: Boolean): RepStats
}

/**
 * panel_forecast: irregular intra-day readings of many keys → daily
 * calendar resample → day index → aligned, linearly filled panel → rolling
 * mean and lags → series layout written and read back as Parquet → ARIMA
 * forecasts, GARCH and Holt-Winters fits → ADF and Ljung-Box tests →
 * instants pivot and IndexedRowMatrix over a key subset → event files
 * replayed as a micro-batch stream (see [[StreamStage]]). Stage 1 is the
 * series work, stage 2 the model fits and tests.
 */
final class PanelForecast(dir: String, manifest: Manifest, truth: Truth, work: String)
    extends Workload {
  private val stream = new StreamStage(dir, manifest, truth, work)
  private val t = manifest.truth
  private val keys = t.int("keys")
  private val days = t.int("days")
  private val horizon = t.int("horizon")
  private val gapDays = t.long("gap_days")
  private val matrixKeys = t.int("matrix_keys")
  private val dayNanos = 86400L * 1000000000L
  /** (key, step) → (held-out value, forecast from the true parameters) */
  private val holdout: Map[(String, Int), (Double, Double)] =
    truth.strings("holdout", "key").lazyZip(truth.ints("holdout", "step"))
      .lazyZip(truth.doubles("holdout", "value")).lazyZip(truth.doubles("holdout", "oracle"))
      .map { case (k, s, v, o) => (k, s) -> (v, o) }.toMap

  private val WarmupKeys = 60
  /** three fits and two tests per key */
  private val ResultsPerKey = 5
  private def keyName(i: Int) = f"k$i%05d"

  def run(rep: Rep, warmup: Boolean): RepStats = {
    val t0 = System.nanoTime()
    val nKeys = if (warmup) WarmupKeys else keys
    val (quality, modelSeconds) = pipeline(rep, nKeys)
    val seriesSeconds = (System.nanoTime() - t0) / 1e9 - modelSeconds
    stream.replay(rep, warmup)
    RepStats(nKeys.toDouble, seriesSeconds, ResultsPerKey * nKeys.toDouble, modelSeconds, quality)
  }

  /** Returns the quality score and the seconds spent in the model calls. */
  private def pipeline(rep: Rep, nKeys: Int): (Double, Double) = {
    val spark = rep.spark
    val full = nKeys == keys
    val raw = spark.read.parquet(s"$dir/input/obs").filter(col("key") < keyName(nKeys))

    val (clean, nObs) = rep.frame("ts", "TimeSeriesOps.nanToNull")(TimeSeriesOps.nanToNull(raw))
    if (full) rep.check("observations", nObs == t.long("observations"), s"$nObs")

    val (daily, nDaily) = rep.frame("ts", "TimeSeriesOps.resampleCalendar")(
      TimeSeriesOps.resampleCalendar(clean, "day", (c: Column) => avg(c)))
    if (full) rep.check("resampled rows = keys x days - gap days",
      nDaily == keys.toLong * days - gapDays, s"$nDaily")

    val dailyNanos = daily.select(col("key"),
      (unix_micros(col("bucket_ts")) * 1000L).as("ts_nanos"), col("value"))
    val bounds = rep.span("bench", "day bounds")(
      dailyNanos.agg(min("ts_nanos"), max("ts_nanos")).collect().head)
    def zdt(n: Long) = Instant.ofEpochSecond(0L, n).atZone(ZoneOffset.UTC)
    val index = rep.value[DateTimeIndex]("core", "DateTimeIndex.uniformFromInterval", _.size.toLong)(
      DateTimeIndex.uniformFromInterval(zdt(bounds.getLong(0)), zdt(bounds.getLong(1)),
        Frequency.days(1)))
    rep.check("index length", index.size == days, s"${index.size}")

    val (aligned, nAligned) = rep.frame("ts", "TimeSeriesOps.align")(
      TimeSeriesOps.align(dailyNanos, index, Some("linear")))
    rep.check("aligned rows = keys x index length", nAligned == nKeys.toLong * index.size,
      s"$nAligned")

    val (_, nRolled) = rep.frame("ts", "TimeSeriesOps.rollMean")(TimeSeriesOps.rollMean(aligned, 7))
    rep.check("rollMean rows", nRolled == nKeys.toLong * (index.size - 6), s"$nRolled")
    val (_, nLagged) = rep.frame("ts", "TimeSeriesOps.lags")(TimeSeriesOps.lags(aligned, 3))
    rep.check("lags rows", nLagged == nKeys.toLong * (index.size - 3), s"$nLagged")

    val (series, nSeries) = rep.frame("ts", "TimeSeriesOps.toSeries")(
      TimeSeriesOps.toSeries(aligned, index))
    rep.check("series rows", nSeries == nKeys, s"$nSeries")

    val path = s"$work/series-${rep.number}"
    rep.value[Unit]("io", "TimeSeriesIO.writeSeriesParquet", _ => nSeries)(
      TimeSeriesIO.writeSeriesParquet(series, index, path))
    var readIdx: DateTimeIndex = null
    val (readDf, nRead) = rep.frame("io", "TimeSeriesIO.readSeriesParquet") {
      val (df, idx) = TimeSeriesIO.readSeriesParquet(spark, path)
      readIdx = idx
      df
    }
    rep.check("index sidecar round trip", readIdx == index)
    rep.check("series read back", nRead == nSeries, s"$nRead")

    val (obs, nFilled) = rep.frame("ts", "TimeSeriesOps.fromSeries")(
      TimeSeriesOps.fromSeries(readDf, readIdx))
    rep.check("filled panel has no gaps", nFilled == nKeys.toLong * index.size, s"$nFilled")

    // models: every key must come back from every fit
    val tModels = System.nanoTime()
    val (_, fc) = rep.collected("models", "ModelOps.forecastArima")(
      ModelOps.forecastArima(obs, 1, 0, 1, horizon).toDF())
    val lastTs = index.nanosAtLoc(index.size - 1)
    val errors = mutable.ArrayBuffer.empty[Double]
    val oracleErrors = mutable.ArrayBuffer.empty[Double]
    var badTs = 0L
    for (r <- fc) {
      val (k, step, ts, v) = (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))
      if (ts != lastTs + step * dayNanos) badTs += 1
      val (held, oracle) = holdout((k, step))
      errors += math.abs(v - held)
      oracleErrors += math.abs(oracle - held)
    }
    val fcKeys = fc.map(_.getString(0)).distinct.length
    rep.items("forecastArima keys", nKeys, nKeys - fcKeys)
    rep.check("forecast rows = keys x horizon", fc.length == fcKeys * horizon, s"${fc.length}")
    rep.check("forecast timestamps", badTs == 0, s"$badTs wrong")

    val (_, garch) = rep.collected("models", "ModelOps.fitGarch")(ModelOps.fitGarch(obs).toDF())
    rep.items("fitGarch keys", nKeys, nKeys - garch.length)
    val (_, hw) = rep.collected("models", "ModelOps.fitHoltWinters")(
      ModelOps.fitHoltWinters(obs, 7).toDF())
    rep.items("fitHoltWinters keys", nKeys, nKeys - hw.length)
    rep.figures("models.fits_ok_ratio") =
      (fcKeys + garch.length + hw.length).toDouble / (3L * nKeys)

    for ((name, test) <- Seq(
        "ModelOps.adfAll" -> (() => ModelOps.adfAll(obs).toDF()),
        "ModelOps.ljungBoxAll" -> (() => ModelOps.ljungBoxAll(obs, 10).toDF()))) {
      val (_, res) = rep.collected("stats", name)(test())
      val bad = res.count(r => r.isNullAt(2) || !(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
      rep.items(s"$name p-values", nKeys, (nKeys - res.length) + bad)
    }
    val modelSeconds = (System.nanoTime() - tModels) / 1e9

    val subsetKeys = (0 until math.min(matrixKeys, nKeys)).map(keyName)
    val (instants, nInstants) = rep.frame("ts", "TimeSeriesOps.toInstants")(
      TimeSeriesOps.toInstants(obs.filter(col("key").isin(subsetKeys: _*)), subsetKeys))
    rep.check("instants rows = index length", nInstants == index.size, s"$nInstants")
    val rowsSeen = rep.value("ts", "TimeSeriesOps.toIndexedRowMatrix",
      (r: Array[(Long, Int, Int)]) => r.length.toLong) {
      val matrix = TimeSeriesOps.toIndexedRowMatrix(instants, index)
      rep.span("sink", "TimeSeriesOps.toIndexedRowMatrix")(matrix.rows
        .map(r => (r.index, r.vector.size, r.vector.toArray.count(_.isNaN))).collect())
    }
    rep.check("matrix rows cover the index once",
      rowsSeen.map(_._1).sorted.toSeq == (0L until index.size.toLong), s"${rowsSeen.length}")
    rep.check("matrix rows are full and gap-free",
      rowsSeen.forall(r => r._2 == subsetKeys.size && r._3 == 0))

    rep.release()
    rep.figures("forecast_mae") = errors.sum / errors.size
    rep.figures("oracle_mae") = oracleErrors.sum / oracleErrors.size
    rep.figures("diverged_forecasts") = errors.count(_ > 100.0).toDouble
    // median errors: one diverged fit must not swamp the whole panel's score
    (Main.median(oracleErrors.toSeq) / Main.median(errors.toSeq), modelSeconds)
  }
}
