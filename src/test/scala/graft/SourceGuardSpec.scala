package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code keeps out:
  *  - explicit `System.gc()` calls (the JVM and Spark's ContextCleaner own
  *    collection);
  *  - GraphX, whose connected components is only the test-scope reference
  *    for [[graft.ext.Dedup.dupGroups]];
  *  - Structured Streaming sources and sinks (`.readStream`,
  *    `.writeStream`): the engine is a batch, table-oriented system;
  *  - media codecs (`javax.imageio`, `javax.sound`) and spark.ml's feature
  *    transformers (`org.apache.spark.ml.feature`), which no declared query
  *    uses.
  * The stream tokens keep their leading dot, so a backticked prose mention
  * of `readStream` in a comment does not count. Scans the sources under
  * `src/main/scala` of the build's base directory.
  */
class SourceGuardSpec extends AnyFunSuite {
  test("src/main/scala has no System.gc() call and no GraphX import") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the build root: ${root.getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(root)
    assert(files.size > 50, s"only ${files.size} sources found under $root")
    val banned = Seq("System.gc(", "org.apache.spark.graphx", ".readStream",
      ".writeStream", "javax.imageio", "javax.sound", "org.apache.spark.ml.feature")
    val hits = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${n + 1}: $b"
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }
}
