package perfbench

/** A batch of engine calls run in sequential passes: set up, one pass,
  * gates on what the first pass produced, per-layer metrics from its spans. */
trait Batch {
  /** Names of the calls one pass makes, as reported. */
  def steps: Seq[String]
  def setUp(): Unit
  /** Untimed: the plans of a pass on small inputs. */
  def warmUp(): Unit
  /** One pass; (call name, ms) per call. `traced` wraps each call in a span. */
  def pass(traced: Boolean): Seq[(String, Double)]
  def check(): Unit
  def layerMetrics(): Unit
}

/** `offline_batch`: sequential passes of the offline graph suite over the
  * Pandit graph followed by a batch of inventory queries over seeded tables.
  * Nothing is served; the graph loops and the operators do the work. */
object OfflineBatch {
  def apply(run: Run): Unit = {
    val res = run.result
    val batches = Seq(new GraphSuite(run), new OpsQueries(run))
    val (_, setupMs) = Main.elapsedMs(batches.foreach(_.setUp()))
    Main.reportSetup(run, setupMs)
    batches.foreach(_.warmUp())
    Main.phase("warm-up done")

    val passes = scala.collection.mutable.ArrayBuffer[(Double, Seq[Double])]()
    Main.timed(run) { deadline =>
      do {
        val (calls, ms) = Main.elapsedMs(batches.flatMap(_.pass(run.traced)))
        passes += ms -> calls.map(_._2)
        Main.phase(calls.map { case (n, t) => f"$n $t%.0f" }.mkString("pass: ", ", ", ""))
        res.attempted += calls.size
      } while (System.nanoTime() < deadline)
    }
    val errorsBefore = res.errors.size
    batches.foreach(_.check())
    res.failed += res.errors.size - errorsBefore

    val calls = passes.flatMap(_._2).toSeq
    if (!run.traced) {
      res.metrics("op_p50_ms") = Main.quantile(calls, 0.5)
      res.metrics("op_p90_ms") = Main.quantile(calls, 0.9)
      res.metrics("ops_per_s") = calls.size / (passes.map(_._1).sum / 1000.0)
    } else {
      batches.foreach(_.layerMetrics())
      val tr = run.tracer
      val spans = tr.spans.filter(s => batches.exists(_.steps.contains(s.name)))
      res.metrics("spark.task_busy_ratio") = spans.map(_.work.taskMs).sum /
        (spans.map(_.ms).sum * run.spark.sparkContext.defaultParallelism)
      res.metrics("trace.overhead_ms") = tr.overheadMs / calls.size
      res.metrics("spark.session_ms") = run.sessionMs
    }
  }
}
