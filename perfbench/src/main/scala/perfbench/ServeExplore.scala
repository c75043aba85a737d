package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.graph.Subgraph
import graft.query.EntityQueries
import graft.serve.{HttpShim, JsonOut}

/** `serve_explore`: a closed loop of UI users against an in-process
  * `HttpShim` over loopback HTTP. Each user session asks for a hops=1
  * subgraph, expands the same seeds to hops=2, collapses the busiest
  * non-seed node with `exclude_list`, looks up the labels of every id the
  * session returned and loads a dropdown. One client per core; each waits
  * for a reply before its next request. */
object ServeExplore {

  final case class Session(authors: Seq[String], works: Seq[String], dropdown: String)

  /** One subgraph request as sent. */
  final case class Ask(authors: Seq[String], works: Seq[String], hops: Int,
      exclude: Seq[String]) {
    def seeds: Seq[String] = (authors ++ works).distinct
    def body: String = {
      def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")
      s"""{"authors": ${arr(authors)}, "works": ${arr(works)}, "hops": $hops, "exclude_list": ${arr(exclude)}}"""
    }
  }

  /** A completed request: its kind, latency and what the checks need. */
  final case class Done(kind: String, ms: Double, status: Int, bytes: Int,
      ask: Option[Ask], ids: Seq[String], body: String)

  private val NodeId = "\\{\"id\": \"([^\"]*)\"".r
  private val EdgePair = "\"source\": \"([^\"]*)\", \"target\": \"([^\"]*)\"".r

  def nodeIds(body: String): Seq[String] = NodeId.findAllMatchIn(body).map(_.group(1)).toSeq
  def edgePairs(body: String): Seq[(String, String)] =
    EdgePair.findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq

  class Client(port: Int) {
    private def call(method: String, path: String, body: Option[String]): (Int, String, Double) = {
      val t0 = System.nanoTime()
      val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      body.foreach { b =>
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        c.getOutputStream.write(b.getBytes(UTF_8))
      }
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val text = new String(in.readAllBytes(), UTF_8)
      in.close()
      (status, text, (System.nanoTime() - t0) / 1e6)
    }

    def subgraph(ask: Ask): Done = {
      val (st, text, ms) = call("POST", "/api/graph/subgraph", Some(ask.body))
      Done("subgraph", ms, st, text.length, Some(ask), Nil, text)
    }
    def labels(ids: Seq[String]): Done = {
      val q = URLEncoder.encode(ids.mkString(","), UTF_8)
      val (st, text, ms) = call("GET", s"/api/entities/labels?ids=$q", None)
      Done("labels", ms, st, text.length, None, ids, text)
    }
    def dropdown(which: String): Done = {
      val (st, text, ms) = call("GET", s"/api/entities/$which", None)
      Done("dropdown", ms, st, text.length, None, Seq(which), text)
    }
  }

  /** The busiest node of a response that is not a seed: most incident
    * returned edges, ties to the smallest id. */
  def busiest(body: String, seeds: Seq[String]): Option[String] = {
    val deg = mutable.HashMap[String, Int]().withDefaultValue(0)
    edgePairs(body).foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    deg.toSeq.filterNot(kv => seeds.contains(kv._1))
      .sortBy { case (id, d) => (-d, id) }.headOption.map(_._1)
  }

  /** Runs one user session: the hops=1 graph, its hops=2 expansion, the
    * collapse of the expansion's busiest non-seed node, the labels of every
    * id the three graphs returned, and a dropdown. `each` sees every
    * completed request. */
  def session(c: Client, s: Session, each: Done => Unit): Unit = {
    val h1 = Ask(s.authors, s.works, 1, Nil)
    val h2 = h1.copy(hops = 2)
    val r1 = c.subgraph(h1)
    each(r1)
    val r2 = c.subgraph(h2)
    each(r2)
    val r3 = c.subgraph(h2.copy(exclude = busiest(r2.body, h2.seeds).toSeq))
    each(r3)
    each(c.labels(Seq(r1, r2, r3).flatMap(r => nodeIds(r.body)).distinct.sorted))
    each(c.dropdown(s.dropdown))
  }

  /** Golden subgraph cases (`golden/subgraphs/golden_<tag>.json`): seeds,
    * hops and exclusions the goldens were recorded with. */
  val GoldenCases: Seq[(String, Seq[String], Int, Seq[String])] = Seq(
    ("works89000_h2", Seq("89000"), 2, Nil),
    ("kalidasa_h1", Seq("40377"), 1, Nil),
    ("defaults_h1", Seq("85303", "85201", "89000", "88590"), 1, Nil),
    ("works89000_h2_excl", Seq("89000"), 2, Seq("85303")),
    ("works89000_h0", Seq("89000"), 0, Nil),
    ("kalidasa_h3", Seq("40377"), 3, Nil),
    ("excl_seed", Seq("89000", "40377"), 2, Seq("89000")))

  def apply(run: Run): Unit = {
    val spark = run.spark
    val tr = run.tracer
    val res = run.result
    implicit val fmt: Formats = DefaultFormats
    val sessions = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(run.input("sessions.json"))), UTF_8))
      .extract[Seq[Session]]

    val ((graph, shim, port), setupMs) = Main.elapsedMs {
      val g = tr.span("etl.load")(Fixture.load(spark, run.input("entities.json")))
      val s = tr.span("serve.startup")(new HttpShim(spark, g.entities, g.edges))
      (g, s, s.start(0))
    }
    Main.reportSetup(run, setupMs)
    try {
      val client = new Client(port)
      val edges = graph.edges.select("src", "dst").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val reference = new ReferenceBfs(edges)
      val names = graph.entities.select("id", "name", "type").collect()
        .map(r => r.getString(0) -> (Option(r.getString(1)).getOrElse(""), r.getString(2))).toMap
      val dropdownSizes = Map("all" -> names.size,
        "authors" -> names.count(_._2._2 == "author"), "works" -> names.count(_._2._2 == "work"))

      // The response check: subgraphs against the in-memory reference BFS,
      // labels against the entity names, dropdowns against the class sizes.
      def verify(d: Done): Boolean = d.kind match {
        case "subgraph" =>
          val (n, e) = reference(d.ask.get)
          d.status == 200 && nodeIds(d.body).toSet == n && edgePairs(d.body).toSet == e
        case "labels" =>
          val got = JsonMethods.parse(d.body).extract[Seq[Map[String, String]]]
          d.status == 200 && got.map(m => m("id")) == d.ids &&
            got.forall(m => names.get(m("id")).exists(_._1 == m("label")))
        case "dropdown" =>
          d.status == 200 && "\"id\": ".r.findAllMatchIn(d.body).size == dropdownSizes(d.ids.head)
      }
      def tally(done: Iterable[Done]): Unit = done.foreach { d =>
        res.attempted += 1
        if (!verify(d)) {
          res.failed += 1
          if (res.errors.size < 20) res.errors += s"${d.kind} ${d.ask.getOrElse(d.ids)}: wrong response (status ${d.status})"
        }
      }

      // The golden gate, and the warm-up: every golden subgraph through the
      // in-memory reference BFS and over HTTP, then one labels lookup and
      // each dropdown, so the timed region meets no first use of any kind
      // of request (hops 0-3, with and without exclusions).
      val warmIds = mutable.Set[String]()
      for ((tag, seeds, hops, excl) <- GoldenCases) {
        val gold = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"${run.repo}/src/test/resources/golden/subgraphs/golden_$tag.json")), UTF_8))
        val gNodes = (gold \ "nodes").extract[Seq[String]].toSet
        val gEdges = (gold \ "edges").extract[Seq[Seq[String]]].map(e => (e(0), e(1))).toSet
        val ask = Ask(seeds, Nil, hops, excl)
        res.attempted += 1
        if (reference(ask) != (gNodes, gEdges)) {
          res.failed += 1
          res.errors += s"golden subgraph $tag: the reference BFS differs"
        }
        val d = client.subgraph(ask)
        res.attempted += 1
        if (d.status != 200 || nodeIds(d.body).toSet != gNodes || edgePairs(d.body).toSet != gEdges) {
          res.failed += 1
          res.errors += s"golden subgraph $tag: status ${d.status}, the response differs"
        }
        warmIds ++= gNodes
      }
      tally(client.labels(warmIds.toSeq.sorted) +:
        dropdownSizes.keys.toSeq.sorted.map(client.dropdown))
      Main.phase("warm-up done")

      val next = new AtomicInteger(0)
      def nextSession(): Session = sessions(next.getAndIncrement() % sessions.size)

      if (!run.traced) {
        val clients = Runtime.getRuntime.availableProcessors()
        val done = new ConcurrentLinkedQueue[Done]()
        var t0, lastEnd = 0L
        Main.timed(run) { deadline =>
          t0 = System.nanoTime()
          // Clients start a session only before the deadline and finish it,
          // so every run measures whole sessions.
          val threads = (1 to clients).map { _ =>
            val t = new Thread(() => {
              val c = new Client(port)
              while (System.nanoTime() < deadline)
                session(c, nextSession(), done.add(_))
            })
            t.start(); t
          }
          threads.foreach(_.join())
          lastEnd = System.nanoTime()
        }
        val all = done.asScala.toSeq
        val sub = all.filter(_.kind == "subgraph").map(_.ms)
        res.metrics("op_p50_ms") = Main.quantile(sub, 0.5)
        res.metrics("op_p90_ms") = Main.quantile(sub, 0.9)
        res.metrics("ops_per_s") = all.size / ((lastEnd - t0) / 1e9)
        Main.phase(s"${all.size} requests, ${sub.size} of them subgraphs")
        tally(all)
      } else traced(run, client, graph, nextSession _, tally)
    } finally {
      shim.stop()
    }
  }

  /** Traced run: one client, so every Spark job belongs to the request in
    * flight. Each request is followed by a replay of the handler's engine
    * calls, each in its own span. */
  private def traced(run: Run, client: Client, graph: Graph, nextSession: () => Session,
      tally: Iterable[Done] => Unit): Unit = {
    val spark = run.spark
    val tr = run.tracer
    val res = run.result
    val done = mutable.ArrayBuffer[Done]()
    var req = 0
    val tracing = new Client(0) {
      override def subgraph(a: Ask): Done = {
        req += 1
        val d = tr.span("serve.http_subgraph", req)(client.subgraph(a))
        val r = tr.span("graph.subgraph_extract", req)(
          Subgraph.extract(spark, graph.edges, a.seeds, a.hops, a.exclude))
        tr.span("serve.render", req) {
          val nodes = Subgraph.annotate(r.nodes, graph.entities, a.seeds, a.exclude)
            .orderBy("id")
          val edges = Subgraph.labelEdges(r.edges, graph.entities).orderBy("source", "target")
          JsonOut.subgraphResponse(nodes, edges, a.authors, a.works, a.hops, a.exclude)
        }
        d
      }
      override def labels(ids: Seq[String]): Done = {
        req += 1
        val d = tr.span("serve.http_labels", req)(client.labels(ids))
        tr.span("query.labels", req)(EntityQueries.labels(graph.entities, ids.mkString(",")) match {
          case EntityQueries.LabelsOk(df) => df.collect().length
          case _ => 0
        })
        d
      }
      override def dropdown(which: String): Done = {
        req += 1
        tr.span("serve.http_dropdown", req)(client.dropdown(which))
      }
    }
    var firstSessionReqs = 0
    Main.timed(run) { deadline =>
      session(tracing, nextSession(), done += _)
      firstSessionReqs = req
      while (System.nanoTime() < deadline) session(tracing, nextSession(), done += _)
    }
    tally(done)

    // Work counts come from the seed's first session alone, so they repeat
    // exactly for a seed however many sessions the machine's speed fits in.
    def counted(spans: Seq[Span]) = spans.filter(_.req <= firstSessionReqs)
    val http = tr.named("serve.http_subgraph")
    val byReq = tr.spans.groupBy(_.req)
    def med(xs: Seq[Double]) = Main.median(xs)
    res.metrics("spark.jobs_per_subgraph") = med(counted(http).map(_.work.jobs.toDouble))
    res.metrics("spark.stages_per_subgraph") = med(counted(http).map(_.work.stages.toDouble))
    res.metrics("spark.tasks_per_subgraph") = med(counted(http).map(_.work.tasks.toDouble))
    for (n <- Seq("graph.subgraph_extract", "serve.render", "query.labels")) {
      res.metrics(s"${n}_ms") = med(tr.named(n).map(_.ms))
      res.metrics(s"${n}_jobs") = med(counted(tr.named(n)).map(_.work.jobs.toDouble))
    }
    res.metrics("serve.http_self_ms") = med(http.map { h =>
      h.ms - byReq(h.req).filter(s => s.name == "graph.subgraph_extract" || s.name == "serve.render")
        .map(_.ms).sum
    })
    res.metrics("serve.response_bytes") =
      med(done.filter(_.kind == "subgraph").map(_.bytes.toDouble).toSeq)
    res.metrics("spark.task_busy_ratio") = http.map(_.work.taskMs).sum /
      (http.map(_.ms).sum * spark.sparkContext.defaultParallelism)
    res.metrics("serve.dropdown_ms") = med(tr.named("serve.http_dropdown").map(_.ms))
    res.metrics("serve.lookup_p50_ms") =
      med((tr.named("serve.http_labels") ++ tr.named("serve.http_dropdown")).map(_.ms))
    res.metrics("trace.overhead_ms") = tr.overheadMs / done.size
    res.metrics("etl.load_ms") = med(tr.named("etl.load").map(_.ms))
    res.metrics("serve.startup_ms") = med(tr.named("serve.startup").map(_.ms))
    res.metrics("spark.session_ms") = run.sessionMs
  }
}
