package perfbench

import scala.collection.mutable

/** Independent in-memory BFS following `Subgraph`'s documented
  * semantics: undirected expansion for `hops` levels, excluded nodes
  * included but never expanded, emitted edges incident to an expanded node,
  * kept edges with both endpoints visited, result nodes the visited
  * endpoints of emitted edges plus expanded nodes without any edge. */
final class ReferenceBfs(edges: Seq[(String, String)]) {
  private val adj: Map[String, Seq[String]] =
    (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private val incident: Map[String, Seq[(String, String)]] =
    (edges.map(e => e._1 -> e) ++ edges.map(e => e._2 -> e))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  def apply(a: ServeExplore.Ask): (Set[String], Set[(String, String)]) = {
    val ex = a.exclude.toSet
    val visited = mutable.LinkedHashSet[String](a.seeds: _*)
    var frontier = a.seeds
    var i = 0
    while (i < a.hops && frontier.nonEmpty) {
      val next = frontier.filterNot(ex).flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(visited)
      visited ++= next
      frontier = next
      i += 1
    }
    val expanded = visited.filterNot(ex)
    val emitted = expanded.flatMap(incident.getOrElse(_, Nil)).toSet
    val kept = emitted.filter { case (s, d) => visited(s) && visited(d) }
    val nodes = emitted.flatMap { case (s, d) => Seq(s, d) }.filter(visited) ++
      expanded.filterNot(adj.contains)
    (nodes, kept)
  }
}
