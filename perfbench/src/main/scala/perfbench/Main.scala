package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** What one run reports: metric values by name, the operation tally, and the
  * correctness gate failures (a run with any is incorrect). */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def gate(ok: Boolean, what: => String): Unit = if (!ok) errors += what

  def json: String = JsonMethods.compact(JsonMethods.render(
    ("correct" -> errors.isEmpty) ~ ("attempted" -> attempted) ~ ("failed" -> failed) ~
      ("metrics" -> JObject(metrics.toList.map { case (k, v) =>
        k -> (if (v.isNaN) JNull else JDouble(v)) })) ~
      ("errors" -> errors.toList)))
}

/** Settings shared by the workloads. */
final case class Run(spark: SparkSession, work: String, repo: String,
    seconds: Double, tracer: Tracer, result: Result, sessionMs: Double) {
  def traced: Boolean = tracer.enabled
  def input(name: String): String = s"$work/$name"
}

/** Benchmark program: one workload per process.
  *
  * Usage: perfbench.Main --workload <serve_explore|offline_batch>
  *   --work <dir with the generated inputs> --repo <checkout root>
  *   --seconds <timed-region length> --trace <0|1>
  *
  * Writes `result.json` (and, when traced, `trace.jsonl`) into the work
  * directory. With `--trace 0` the run reports end-to-end metrics measured
  * with no listener registered; with `--trace 1` it reports per-layer
  * metrics from spans recorded around every call into the engine.
  */
object Main {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $what")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    phase("session started")
    val result = new Result
    val run = Run(spark, work, opts("repo"), opts("seconds").toDouble,
      new Tracer(spark, opts("trace") == "1"), result, sessionMs)
    try {
      workload match {
        case "serve_explore" => ServeExplore(run)
        case "offline_batch" => OfflineBatch(run)
        case other => result.errors += s"unknown workload $other"
      }
      if (run.traced) run.tracer.write(s"$work/trace.jsonl")
    } catch {
      case t: Throwable =>
        result.errors += s"${t.getClass.getName}: ${t.getMessage}"
        t.printStackTrace()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"),
      result.json.getBytes("UTF-8"))
    phase("result written")
    spark.stop()
    phase("session stopped")
  }

  // --- helpers shared by the workloads ---

  def elapsedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after a forced collection, in MB: the memory the set-up
    * left behind. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Box-drift probe: fixed work with no input and no repository code —
    * generated rows through a broadcast join, a hash aggregate and a running
    * window — so its time tracks the machine, not the program. The same
    * recipe as the engine's batch bench calibration, at an eighth of its
    * row count. */
  def calibrateMs(spark: SparkSession): Double = {
    val cores = spark.sparkContext.defaultParallelism
    elapsedMs {
      val fact = spark.range(0L, 2000000L, 1L, cores * 2)
        .select(col("id"), pmod(col("id") * 2654435761L, lit(1048576)).as("h"),
          pmod(col("id"), lit(4096)).as("k"))
      val dim = spark.range(0L, 4096L)
        .select(col("id").as("k"), pmod(col("id") * 31, lit(97)).as("w"))
      fact.join(broadcast(dim), "k")
        .groupBy("k")
        .agg(sum("h").as("sh"), count(lit(1)).as("n"), sum("w").as("sw"))
        .select(col("k"), col("sh"), col("n"), col("sw"),
          sum(col("sh")).over(Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
        .write.format("noop").mode("overwrite").save()
    }._2
  }

  /** Shared end-to-end block: set-up time (session start plus the
    * workload's own set-up) and retained heap. */
  def reportSetup(run: Run, setupMs: Double): Unit = {
    run.result.metrics("setup_s") = (run.sessionMs + setupMs) / 1000.0
    run.result.metrics("heap_after_setup_mb") = heapAfterGcMb()
    phase(f"set up ($setupMs%.0f ms after the session)")
  }

  /** Timed region bracketed by the box probe. The region receives its
    * deadline (a `System.nanoTime` instant `--seconds` after it starts). */
  def timed[A](run: Run)(region: Long => A): A = {
    val calibStart = calibrateMs(run.spark)
    phase(f"timed region starts (box probe $calibStart%.0f ms)")
    val g0 = gcMs()
    val a = region(System.nanoTime() + (run.seconds * 1e9).toLong)
    val gc = gcMs() - g0
    phase("timed region ends")
    val calibEnd = calibrateMs(run.spark)
    phase(f"box probe $calibEnd%.0f ms")
    if (run.traced) {
      run.result.metrics("box.calib_start_ms") = calibStart
      run.result.metrics("box.calib_end_ms") = calibEnd
      run.result.metrics("jvm.gc_ms") = gc.toDouble
    }
    a
  }
}
