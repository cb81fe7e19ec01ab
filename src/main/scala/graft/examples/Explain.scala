package graft.examples

import graft.SparkEntry

/** Plan inspection harness: prints the formatted physical plan for the
  * named queries (all if none given) — used to keep pushdown/broadcast/
  * top-k properties under review as the library evolves.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(8)
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
