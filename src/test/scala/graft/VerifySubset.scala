package graft

/** Dev tool: dump a named SUBSET of declared queries + their oracle SQL so
  * `tools/local_check.py` can DuckDB-compare just the queries under active
  * development, without paying the full 144-query Verify gate per iteration.
  *   sbt "Test/runMain graft.VerifySubset /root/testdata/sf0.01 /tmp/out q33_x,e117_y"
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").toSet
    val spark = Session.local(8)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => names(q._1)).foreach { case (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      println(s"[scratch13] wrote $name")
    }
    val sqls = SparkEntry.oracleSql.filter(q => names(q._1))
    val json = sqls.map { case (k, v) =>
      "\"" + k + "\": \"" + v.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
