package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.graph.{Analytics, Centrality, Community, Subgraph}
import graft.serve.Gexf

/** The offline analytics suite over the whole Pandit graph: the
  * hand-rolled iterative loops of `graft.graph` do nearly all the work; no
  * HTTP and no parquet is involved. */
final class GraphSuite(run: Run) extends Batch {
  import run.spark.implicits._
  import GraphSuite._
  private val spark = run.spark
  private val tr = run.tracer

  private implicit val fmt: Formats = DefaultFormats
  private val params = JsonMethods.parse(read(run.input("params.json")))
  private val pprSeeds = (params \ "ppr_seeds").extract[Seq[String]]

  private var graph: Graph = _
  private var first: Outputs = _

  val steps: Seq[String] = Steps

  def setUp(): Unit =
    graph = tr.span("etl.load")(Fixture.load(spark, run.input("entities.json")))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def kept(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** The suite on the 3-hop neighbourhood of the growth seed: every plan of
    * a pass, compiled and JIT-warm, at a fraction of a pass's cost. */
  def warmUp(): Unit = {
    val small = Subgraph.extract(spark, graph.edges, Seq(GrowthSeed), 3)
    val g = Graph(graph.entities.join(small.nodes, Seq("id"), "left_semi").cache(),
      small.edges.cache())
    suite(g, traced = false)._1.release()
    g.entities.unpersist(true)
    g.edges.unpersist(true)
  }

  def pass(traced: Boolean): Seq[(String, Double)] = {
    val (out, times) = suite(graph, traced)
    if (first == null) first = out
    else {
      run.result.gate(out.modularity == first.modularity && out.growth == first.growth,
        "a later pass disagrees with the first")
      out.release()
    }
    times
  }

  private def suite(graph: Graph, traced: Boolean): (Outputs, Seq[(String, Double)]) = {
    val out = new Outputs
    val vertices = graph.entities.select($"id")
    val edges = graph.edges
    val longEdges = edges.select($"src".cast("long").as("a"), $"dst".cast("long").as("b"))
      .unionByName(edges.select($"dst".cast("long").as("a"), $"src".cast("long").as("b")))
    val gexfNodes = graph.entities.select($"id", $"name".as("label"),
      when($"type" === "author", lit("red")).otherwise(lit("green")).as("color"))
    val times = ArrayBuffer[(String, Double)]()
    def step[A](name: String)(f: => A): A = {
      val (a, ms) = Main.elapsedMs(if (traced) tr.span(name)(f) else f)
      times += name -> ms
      a
    }
    step("graph.connectedComponents") {
      out.components = kept(Analytics.connectedComponents(vertices, edges))
    }
    step("graph.componentListings")(noop(Analytics.componentListings(out.components, graph.entities)))
    step("graph.degrees") { out.degrees = kept(Analytics.degrees(vertices, edges)) }
    step("graph.metrics")(Analytics.metrics(vertices, edges))
    step("graph.commentaryDepths") { out.depths = kept(Analytics.commentaryDepths(vertices, edges)) }
    val communities = step("graph.louvain")(kept(Community.louvain(vertices, edges)))
    step("graph.modularity") { out.modularity = Community.modularity(vertices, edges, communities) }
    step("graph.betweenness")(noop(Centrality.betweenness(vertices, edges,
      sampleSources = Some(BetweennessSources))))
    step("graph.deterministicWalks")(noop(Analytics.deterministicWalks(longEdges, WalkSteps)))
    step("graph.personalizedPageRank")(noop(Centrality.personalizedPageRank(vertices, edges,
      pprSeeds.toDF("id"))))
    step("graph.growthCurve") { out.growth = Subgraph.growthCurve(spark, edges, Seq(GrowthSeed)) }
    step("serve.gexf_render") { out.gexfBytes = Gexf.render(gexfNodes, edges).length.toLong }
    communities.unpersist(true)
    (out, times.toSeq)
  }

  /** Gates on the first pass's outputs: the analytics golden, the hop-growth
    * golden, and a positive modularity. */
  def check(): Unit = {
    val res = run.result
    val g = golden(run.repo)
    val out = first
    res.gate(out.growth == g.growth,
      s"growth curve from $GrowthSeed ${out.growth.mkString(",")} differs from the golden")
    val sizes = out.components.groupBy($"component").count().select($"count")
      .as[Long].collect()
    res.gate(sizes.length == g.components && sizes.max == g.largest &&
      sizes.count(_ == 1) == g.isolated,
      s"components: ${sizes.length} (largest ${sizes.max}, isolated ${sizes.count(_ == 1)}); " +
        s"golden ${g.components} (${g.largest}, ${g.isolated})")
    val Array(maxIn, maxOut) = out.degrees.agg(max($"inDeg"), max($"outDeg")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    res.gate(maxIn == g.maxIn && maxOut == g.maxOut,
      s"max in/out degree $maxIn/$maxOut; golden ${g.maxIn}/${g.maxOut}")
    val depthRow = out.depths.agg(max($"depth"), count(lit(1))).head()
    res.gate(depthRow.getLong(0) == g.chainDepth && depthRow.getLong(1) == g.chainNodes,
      s"commentary chains depth ${depthRow.get(0)} over ${depthRow.get(1)} nodes; " +
        s"golden ${g.chainDepth} over ${g.chainNodes}")
    res.gate(out.modularity > 0, s"modularity ${out.modularity} is not above 0")
    res.gate(out.gexfBytes > 0, "empty GEXF export")
    out.release()
  }

  def layerMetrics(): Unit = {
    val m = run.result.metrics
    m("etl.load_ms") = Main.median(tr.named("etl.load").map(_.ms))
    for (name <- Steps) {
      val ss = tr.named(name)
      m(s"$name.ms") = Main.median(ss.map(_.ms))
      m(s"$name.jobs") = Main.median(ss.map(_.work.jobs.toDouble))
      m(s"$name.shuffle_bytes") = Main.median(ss.map(_.work.shuffleBytes.toDouble))
    }
  }
}

object GraphSuite {

  /** The hop-growth golden is recorded from this node: 26 BFS rounds. */
  val GrowthSeed = "40377"

  /** Sampled sources of `betweenness`, and steps of `deterministicWalks`. */
  val BetweennessSources = 16
  val WalkSteps = 8

  /** Step names as reported: `graph.<fn>` for graph functions, and the GEXF
    * export under the serve layer it belongs to. */
  val Steps: Seq[String] = Seq("connectedComponents", "componentListings", "degrees",
    "metrics", "commentaryDepths", "louvain", "modularity", "betweenness",
    "deterministicWalks", "personalizedPageRank", "growthCurve")
      .map("graph." + _) :+ "serve.gexf_render"

  /** What one pass produced, kept for the gates. */
  final class Outputs {
    var components: DataFrame = _
    var degrees: DataFrame = _
    var depths: DataFrame = _
    var modularity: Double = Double.NaN
    var growth: Seq[Long] = Nil
    var gexfBytes: Long = 0L
    def release(): Unit = Seq(components, degrees, depths).foreach(_.unpersist(true))
  }

  /** Expected values from the committed analytics golden
    * (`golden/analytics.json`) and hop-growth golden. */
  final case class Golden(components: Long, largest: Long, isolated: Long,
      maxIn: Long, maxOut: Long, chainDepth: Long, chainNodes: Long,
      growth: Seq[Long])

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  def golden(repo: String): Golden = {
    implicit val fmt: Formats = DefaultFormats
    val dir = s"$repo/src/test/resources/golden"
    val a = JsonMethods.parse(read(s"$dir/analytics.json"))
    val growth = JsonMethods.parse(read(s"$dir/subgraphs/golden_kalidasa_growth.json"))
      .extract[Seq[Long]]
    Golden((a \ "n_components").extract[Long], (a \ "largest").extract[Long],
      (a \ "isolated").extract[Long], (a \ "max_in").extract[Long],
      (a \ "max_out").extract[Long], (a \ "max_chain_depth").extract[Long],
      (a \ "n_chain_nodes").extract[Long], growth)
  }
}
