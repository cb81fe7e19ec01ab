package graft.ext

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Test-scope reference for [[Dedup.dupGroups]]: GraphX's Pregel connected
  * components over `allIds` ∪ pair endpoints. GraphX labels each vertex
  * with the minimum vertex id of its component, which is `dupGroups`'
  * (id, group_id) contract, so the two frames compare row for row.
  */
object GraphXComponents {
  def groups(allIds: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val vertices = allIds.select(col(idCol).cast("long")).distinct()
      .rdd.map(r => (r.getLong(0), ()))
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = ConnectedComponents.run(Graph(vertices, edges))
    allIds.sparkSession.createDataFrame(cc.vertices.map { case (id, group) => (id, group) })
      .toDF(idCol, "group_id")
  }
}
