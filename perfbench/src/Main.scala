package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints notes, then one JSON result line. */
object Main {

  /** What one run accumulates: end-to-end metrics (untraced runs),
    * per-layer samples (traced runs), operation counts and check
    * failures. */
  final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                  val seconds: Double, val traced: Boolean) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
    val notes = mutable.ArrayBuffer.empty[String]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val listener: Option[TaskMetricsListener] =
      if (traced) { val l = new TaskMetricsListener; spark.sparkContext.addSparkListener(l); Some(l) }
      else None

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    /** Add a per-layer sample (recorded only in traced runs). */
    def layer(name: String, value: Double, unit: String): Unit =
      if (traced) layers.getOrElseUpdate(name, (mutable.ArrayBuffer.empty, unit))._1 += value

    def hasLayer(name: String): Boolean = layers.contains(name)

    /** Set a per-layer value that is a total, not a sample. */
    def layerTotal(name: String, value: Double, unit: String): Unit =
      if (traced) layers(name) = (mutable.ArrayBuffer(value), unit)

    def fail(msg: String): Unit =
      if (errors.length < 20) errors += msg else if (errors.length == 20) errors += "..."

    /** Run one operation, counting it; an exception counts as failed. */
    def op[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          if (failed <= 5)
            notes += s"operation failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def nowS: Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val run = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))

    val selfErrors = Check.selfTest()
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = nowS
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, seed, seconds, traced)
    ctx.notes += f"session: start_s=${nowS - t0}%.2f cpus=$cpus"
    selfErrors.foreach(e => ctx.fail(s"checker self-test: $e"))
    Trace.enabled = traced
    try {
      run(ctx)
      if (traced) {
        Layers.fill(ctx, workload)
        Trace.write(s"$work/spans.jsonl")
        Trace.selfTimes.foreach { case (name, (n, total, self)) =>
          ctx.notes += f"span $name%-28s n=$n%-5d total_ms=$total%.1f self_ms=$self%.1f"
        }
      }
    } finally spark.stop()

    ctx.notes.foreach(println)
    ctx.errors.foreach(e => println(s"CHECK FAILED: $e"))
    val metrics = if (traced) ctx.layers.map { case (k, (vs, u)) => k -> (median(vs.toSeq), u) }
      else ctx.metrics
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.errors.isEmpty}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
