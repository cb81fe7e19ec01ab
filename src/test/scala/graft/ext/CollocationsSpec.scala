package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CollocationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pmiBigrams ranks a planted collocation above independent pairs") {
    // "new york" is fully bound; "the" is twice as frequent and pairs with
    // everything — PMI must rank the bound pair above the promiscuous one.
    val docs = (1 to 20).map { i =>
      s"new york the a$i the b$i"
    }.toDF("text")
    val got = Collocations.pmiBigrams(docs, minCount = 5L, topK = 10).collect()
    // surviving pairs (count >= 5): (new,york)=20 and (york,the)=20
    assert(got.length == 2, got.mkString(", "))
    val top = got.head
    assert((top.getString(0), top.getString(1)) == ("new", "york"), got.mkString(", "))
    // hand-computed: N_uni=120, N_bi=100; c_new=c_york=20, c_the=40
    // pmi(new,york) = ln((20*120*120)/(100*20*20)) = ln(7.2)
    val want = BigDecimal(math.log((20.0 * 120 * 120) / (100.0 * 20 * 20)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(top.getDouble(3) == want, s"pmi ${top.getDouble(3)} != $want")
    val second = got(1)
    assert((second.getString(0), second.getString(1)) == ("york", "the"))
    assert(second.getDouble(3) < top.getDouble(3))
  }

  test("pmiBigrams drops pairs under minCount and handles empty/1-token docs") {
    val docs = Seq("solo", "", "   ", "a b", "a b", "a b", "a b").toDF("text")
    // "a b" occurs 4 times: below minCount=5 -> empty result, no slice error
    assert(Collocations.pmiBigrams(docs, minCount = 5L).collect().isEmpty)
    val loose = Collocations.pmiBigrams(docs, minCount = 4L).collect()
    assert(loose.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", "b", 4L)))
  }

  test("pmiBigrams is stable under repartitioning and reuses the count exchange") {
    val docs = graft.queries.Reference
      .events(spark, "/root/testdata/sf0.001") // any text-ish column works
      .select(col("props").as("text"))
    val a = Collocations.pmiBigrams(docs, minCount = 5L, topK = 50).collect()
    val b = Collocations.pmiBigrams(docs.repartition(7), minCount = 5L, topK = 50).collect()
    assert(a.toSeq == b.toSeq, "PMI output changed under repartitioning")
    // one corpus scan: the four consumers of the vocab-sized count table
    // must read its pinned leaf — without the pin, AQE stage reuse
    // deduplicates only one branch and the corpus is scanned four times
    val df = Collocations.pmiBigrams(docs)
    df.collect()
    // walk the EXECUTED tree through AQE wrappers
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodesIn(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodesIn(a.executedPlan)
      case s: QueryStageExec => nodesIn(s.plan)
      case other => other +: other.children.flatMap(nodesIn)
    }
    val plan = df.queryExecution.executedPlan
    // the count table (w1, w2, c) enters as a scan of the pinned RDD
    val countScans = nodesIn(plan).collect {
      case r: RDDScanExec if r.output.map(_.name) == Seq("w1", "w2", "c") => r
    }
    assert(countScans.nonEmpty, s"count table not read from its pinned leaf:\n$plan")
    val scans = nodesIn(plan).count(_.isInstanceOf[FileSourceScanExec])
    assert(scans <= 1, s"corpus scanned $scans times in the executed tree:\n$plan")
  }
}
