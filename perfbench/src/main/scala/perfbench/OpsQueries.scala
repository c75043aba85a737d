package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** A fixed subset of the operator inventory over the seeded tables, each
  * query collected into the JVM. `graft.ops`, `graft.expr` and
  * `graft.plans` do the work; no graph fixture and no serve code runs. */
final class OpsQueries(run: Run) extends Batch {
  import OpsQueries._
  private val spark = run.spark
  private val tr = run.tracer
  private val data = run.input("data")

  /** What the first pass returned for each query, for the gate. */
  private val first = mutable.LinkedHashMap[String, (StructType, Array[Row])]()

  val steps: Seq[String] = Queries.map(q => s"ops.${short(q)}")

  /** Opens every input table: footers, schema, one full scan. */
  def setUp(): Unit = Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())

  /** Every query on the small warm-up tables. */
  def warmUp(): Unit =
    Queries.foreach(q => SparkEntry.queries(q)(spark, run.input("warm")).collect())

  def pass(traced: Boolean): Seq[(String, Double)] = Queries.map { q =>
    val name = s"ops.${short(q)}"
    name -> Main.elapsedMs {
      try {
        val df = SparkEntry.queries(q)(spark, data)
        val rows = if (traced) tr.span(name)(df.collect()) else df.collect()
        if (!first.contains(q)) first(q) = (df.schema, rows)
      } catch {
        case t: Throwable =>
          run.result.failed += 1
          run.result.errors += s"$q failed: ${t.getClass.getSimpleName}: ${t.getMessage}"
      }
    }._2
  }

  /** Writes the first pass's results, and each query's oracle SQL, for the
    * DuckDB check that runs after the JVM exits. */
  def check(): Unit = {
    for ((q, (schema, rows)) <- first)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(s"${run.work}/results/$q")
    val sql = JObject(Queries.map(q => q -> JString(SparkEntry.oracleSql(q))).toList)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${run.work}/oracle.json"),
      JsonMethods.compact(JsonMethods.render(sql)).getBytes("UTF-8"))
  }

  def layerMetrics(): Unit = {
    val m = run.result.metrics
    for (q <- Queries.map(short)) {
      val ss = tr.named(s"ops.$q")
      m(s"ops.$q.ms") = Main.median(ss.map(_.ms))
      m(s"ops.$q.jobs") = Main.median(ss.map(_.work.jobs.toDouble))
      m(s"ops.$q.shuffle_bytes") = Main.median(ss.map(_.work.shuffleBytes.toDouble))
      m(s"ops.$q.spill_bytes") = Main.median(ss.map(_.work.spillBytes.toDouble))
      m(s"plans.$q.planning_ms") = Main.median(ss.map(_.work.planningMs.toDouble))
    }
  }
}

object OpsQueries {

  /** The signature-join family (minhash, simhash, edit-distance pairs,
    * record linkage), the bm25 side jobs, content-defined chunk dedup, and
    * two plain scan/join aggregates. */
  val Queries: Seq[String] = Seq("q02_agg_sum_groupby", "q12_join_multiway",
    "q35_dedup_minhash_lsh", "q37_simhash_neardups", "q102_levenshtein_pairs",
    "q154_bm25_topk", "q167_cdc_chunk_dedup", "q191_record_linkage")
  val Tables: Seq[String] = Seq("lineitem", "part", "supplier", "documents")

  def short(q: String): String = q.takeWhile(_ != '_')
}
