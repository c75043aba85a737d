package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** The Pandit graph, loaded through the engine's JSON loader from the
  * `{id: entity}` file the generator writes out of the committed golden
  * entity export. Edges come from the works' adjacency arrays: `wrote` is
  * author → work, `commentary_on` is base text → commentary. */
final case class Graph(entities: DataFrame, edges: DataFrame)

object Fixture {
  val Entities = 17569L
  val Wrote = 9498L
  val CommentaryOn = 4487L

  def load(spark: SparkSession, path: String): Graph = {
    val entities = graft.etl.JsonLoad.entities(spark, path).cache()
    val works = entities.filter(col("type") === "work")
    val edges = works.select(explode(col("authorIds")).as("src"), col("id").as("dst"),
        lit(Schemas.Wrote).as("etype"))
      .unionByName(works.select(explode(col("baseTextIds")).as("src"),
        col("id").as("dst"), lit(Schemas.CommentaryOn).as("etype")))
      .cache()
    val nEntities = entities.count()
    val byType = edges.groupBy("etype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(nEntities == Entities && byType.get(Schemas.Wrote).contains(Wrote) &&
      byType.get(Schemas.CommentaryOn).contains(CommentaryOn),
      s"graph fixture has $nEntities entities and edges $byType; expected " +
        s"$Entities entities, $Wrote wrote and $CommentaryOn commentary_on")
    Graph(entities, edges)
  }
}
