package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/**
 * One repetition of a workload: the calls it makes into the engine, the
 * checks on their outputs, and the operation counts behind `failed_ratio`.
 *
 * Every call's output is forced at the call boundary through a sink that
 * reads every column (a cached `noop` write, or a collect when the benchmark
 * checks the rows), so no call's work leaks into the next one's time and
 * Catalyst cannot prune the work away. The same happens with tracing off, so
 * a traced repetition does the same work as an untraced one.
 */
final class Rep(val spark: SparkSession, tracer: Option[Tracer], val number: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload figures: items done, stage times, quality, layer counts. */
  val figures = mutable.LinkedHashMap.empty[String, Double]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  tracer.foreach(_.startRep(number))

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  private def rows(n: Long): Unit = tracer.flatMap(_.current).foreach(_.rowsOut = n)

  /** A call that returns a frame: cache it and force it through a `noop`
    * write that counts its rows. Returns the cached frame and its row count. */
  def frame(layer: String, name: String)(body: => DataFrame): (DataFrame, Long) = {
    attempted += 1
    span(layer, name) {
      val df = body.persist()
      cached += df
      val obs = Observation()
      span("sink", name) {
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      }
      val n = obs.get("rows").asInstanceOf[Long]
      rows(n)
      (df, n)
    }
  }

  /** A call whose output the benchmark checks row by row: cache and collect. */
  def collected(layer: String, name: String)(body: => DataFrame): (DataFrame, Array[Row]) = {
    attempted += 1
    span(layer, name) {
      val df = body.persist()
      cached += df
      val out = span("sink", name)(df.collect())
      rows(out.length.toLong)
      (df, out)
    }
  }

  /** A call that returns a plain value rather than a frame. */
  def value[T](layer: String, name: String, rowsOut: T => Long = (_: T) => 0L)(body: => T): T = {
    attempted += 1
    span(layer, name) {
      val v = body
      rows(rowsOut(v))
      v
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$name $detail".trim
    }
  }

  /** Per-item results (one fit per key, say): `bad` of `n` items failed. */
  def items(name: String, n: Long, bad: Long): Unit = {
    attempted += n
    if (bad != 0) {
      failed += math.abs(bad)
      failures += s"$name: $bad of $n items missing or wrong"
    }
  }

  def release(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }
}
