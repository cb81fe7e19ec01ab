package graft.ingest

import graft.SparkTestSession
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class IngestJobSpec extends AnyFunSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_ingest").toString

  test("csvDirToParquet converts every csv with sanitized names and inferred schema") {
    val spark = SparkTestSession.spark
    val in = tmpDir(); val out = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$in/My Data-1.csv"),
      "col name-1!,n val,when\nalpha,1,2020-01-01\nbeta,2147483648,2021-02-03\n")
    Files.writeString(java.nio.file.Paths.get(s"$in/other.txt"), "ignored")

    val schemas = IngestJob.csvDirToParquet(spark, in, out)
    assert(schemas.keySet == Set("My_Data_1"))
    val df = spark.read.parquet(s"$out/My_Data_1")
    assert(df.columns.toSeq == Seq("col_name_1_", "n_val", "when"))
    assert(df.count() == 2)
    // inferSchema promoted the int32-overflowing column to long
    assert(df.schema("n_val").dataType == org.apache.spark.sql.types.LongType)
  }

  test("preprocess drops all-null columns and rewrites headers (pandas-path rule)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = Seq(("a", Option.empty[String], 1), ("b", None, 2))
      .toDF(" keep me ", "all-null", "n")
    val got = IngestJob.preprocess(df)
    assert(got.columns.toSeq == Seq("keep_me", "n"))
    assert(got.count() == 2)
  }

  test("csvDirToParquet over three files ≡ per-file csvToParquet") {
    val spark = SparkTestSession.spark
    val in = tmpDir(); val out = tmpDir(); val one = tmpDir()
    def write(name: String, body: String) =
      Files.writeString(java.nio.file.Paths.get(s"$in/$name"), body)
    write("a.csv", "id,name\n1,x\n2,y\n3,z\n")
    write("b b.csv", "k-1,v 2\n1.5,true\n2.5,false\n")
    write("c.csv", "when,n\n2020-01-01,7\n" + (1 to 500).map(i => s"2021-01-01,$i").mkString("\n"))

    val schemas = IngestJob.csvDirToParquet(spark, in, out)
    assert(schemas.keySet == Set("a", "b_b", "c"))
    Seq("a.csv" -> "a", "b b.csv" -> "b_b", "c.csv" -> "c").foreach { case (file, table) =>
      assert(schemas(table) == IngestJob.csvToParquet(spark, s"$in/$file", one))
      val got = spark.read.parquet(s"$out/$table")
      val want = spark.read.parquet(s"$one/$table")
      assert(got.schema == want.schema)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("csvDirToParquet rethrows a file's own failure, not an ExecutionException") {
    val spark = SparkTestSession.spark
    val in = tmpDir(); val out = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$in/good.csv"), "x,y\n1,2\n")
    // both headers sanitize to a_b: the Parquet write refuses the duplicate
    Files.writeString(java.nio.file.Paths.get(s"$in/dup.csv"), "a b,a-b\n1,2\n")
    val direct = intercept[org.apache.spark.sql.AnalysisException] {
      IngestJob.csvToParquet(spark, s"$in/dup.csv", tmpDir())
    }
    val batch = intercept[org.apache.spark.sql.AnalysisException] {
      IngestJob.csvDirToParquet(spark, in, out)
    }
    assert(batch.getCondition == direct.getCondition)
    assert(batch.getMessage == direct.getMessage)
  }

  test("csvDirToParquet: files whose names sanitize alike write one table, last path wins") {
    val spark = SparkTestSession.spark
    val in = tmpDir(); val out = tmpDir()
    // "a b.csv" < "a-b.csv" in path order; both sanitize to table a_b
    Files.writeString(java.nio.file.Paths.get(s"$in/a b.csv"), "first\n1\n")
    Files.writeString(java.nio.file.Paths.get(s"$in/a-b.csv"), "second\n2\n3\n")
    val schemas = IngestJob.csvDirToParquet(spark, in, out)
    assert(schemas.keySet == Set("a_b"))
    assert(schemas("a_b").fieldNames.toSeq == Seq("second"))
    val df = spark.read.parquet(s"$out/a_b")
    assert(df.columns.toSeq == Seq("second") && df.count() == 2)
  }
}
