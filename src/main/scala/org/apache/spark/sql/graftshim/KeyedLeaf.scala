package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Re-declares the hash partitioning of a checkpointed frame — the leaf
  * behind [[graft.ops.Layout.pin]]'s keyed overload. A local checkpoint
  * re-enters plans as a `LogicalRDD` whose partitioning is unknown under
  * adaptive execution; when its RDD was produced by a hash exchange on
  * `keys` into `n` partitions, the same leaf declaring
  * `HashPartitioning(keys, n)` lets joins and aggregations on those keys
  * plan no exchange over it. Lives under `org.apache.spark.sql` for the
  * package-private `Dataset.ofRows` (the [[ColumnBridge]] technique).
  */
object KeyedLeaf {

  /** `checkpointed` (a frame whose analyzed plan is one `LogicalRDD`) with
    * its leaf declaring `HashPartitioning(keys, n)`. The caller guarantees
    * the RDD's partition `i` holds exactly the rows whose keys hash to `i`;
    * this refuses a leaf that is not a `LogicalRDD`, a key it does not
    * output, and an RDD without `n` partitions.
    */
  def hashPartitioned(checkpointed: DataFrame, keys: Seq[String],
      n: Int): DataFrame = {
    val ds = checkpointed.asInstanceOf[classic.Dataset[_]]
    val leaf = ds.queryExecution.analyzed match {
      case r: LogicalRDD => r
      case other => throw new IllegalArgumentException(
        s"keyed pin needs a checkpointed leaf, got ${other.nodeName}")
    }
    val keyAttrs = keys.map(k => leaf.output.find(_.name == k)
      .getOrElse(throw new IllegalArgumentException(
        s"keyed pin: no column $k in ${leaf.output.map(_.name).mkString(", ")}")))
    val parts = leaf.rdd.getNumPartitions
    require(parts == n,
      s"keyed pin: the checkpointed RDD has $parts partitions, expected $n")
    val keyed = leaf.makeCopy(Array(leaf.output, leaf.rdd,
      HashPartitioning(keyAttrs, n), leaf.outputOrdering,
      java.lang.Boolean.valueOf(leaf.isStreaming), leaf.stream))
    classic.Dataset.ofRows(ds.sparkSession, keyed)
  }
}
