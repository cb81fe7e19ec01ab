package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural guard over EVERY declared query's physical plan — the
  * plan-shape review (`graft.examples.Explain`) as a regression test.
  * Catches the silent scale-killers a green hash-compare cannot: a join
  * degrading to a cartesian product, or a one-row-broadcast nested loop
  * appearing where an equi-join belongs.
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // queries whose DESIGN includes a broadcast nested-loop join against a
  // deliberately tiny dimension (e02: the one-row query vector; e17/e15:
  // one-row stats or benchmark-set cross join; e18: the distinct-lengths
  // dimension; e29/e30: the one-row vocabulary-size frame) — anything NOT
  // listed here sprouting a BNLJ is a regression (e37: the broadcast
  // benchmark embedding set; e40/e44: the one-row clip-bounds/cuts frame;
  // e43: the category-sized marginal grid and its one-row total; e60: the
  // one-row digit-count total; e63: the |pairs|-row frame joined on an OR
  // predicate — not equi-expressible; e64: the one-row BM25 stats and
  // query-vector frames feeding both rankers; e65: the one-row mixture
  // normalizer; e67: the three 1-row kappa component frames; e68: the
  // |labels|-row centroid frame against every vector; e71: the one-row
  // score-range frame; e73: the one-row per-class totals; e75: the
  // |sources|-row vocab-size frames densifying disjoint pairs; e76: the
  // one-row corpus totals beside the vocab-sized per-token broadcast;
  // e77: the one-row margin-entropy/total frames; e79: the one-row
  // distinct-user total; e82: the |labels|-row centroid frame, as e68;
  // e85: the one-row OLS-fit and holdout-MAPE frames cross-joined onto the
  // calendar-bounded daily spine; e100: the one-row exact-total frame
  // cross-joined with the one-row CI frame; e103: the one-row median and
  // MAD frames broadcast onto the deviation scan — the e40 clip-bounds
  // shape; e105: the |labels|-row centroid frame against every vector, as
  // e68/e82)
  private val bnljByDesign =
    Set("e02_cosine_topk", "e15_decontam", "e17_bm25", "e18_editdist",
      "e29_lm_score", "e30_dsir_select", "e33_pmi_bigrams", "e35_source_kl",
      "e37_semantic_decontam", "e118_decontam_fixedbench", // same 1-row
      // broadcast benchmark-matrix crossJoin gate as e37
      "e40_winsorize", "e43_chi_square",
      "e44_quantile_buckets", "e47_histogram", "e56_dq_report",
      "e60_benford", "e63_source_jsd", "e64_rrf_hybrid", "e65_mixture_plan",
      "e67_cohen_kappa", "e68_centroid_eval", "e71_calibration",
      "e73_ks_test", "e75_vocab_overlap", "e76_log_odds", "e77_mutual_info",
      "e79_assoc_rules", "e82_silhouette", "e85_forecast_eval",
      "e100_bootstrap_ci", "e103_mad_outliers", "e105_ndcg",
      // e109/e112/e113: 1-row corpus-stats / totals frames broadcast into
      // the scoring join — the bm25/e17 designed-BNLJ shape
      "e109_tfidf_terms", "e112_bm25_join", "e113_psi",
      // q34: the 1-row positive-balance-average cut frame broadcast as the
      // decorrelated scalar-subquery gate; e117: the 1-row (N+V) LM stats
      // frame broadcast onto the per-doc scores
      "q34_q22balance", "e117_lm_score",
      // q36: the 1-row max-revenue frame broadcast as the Q15 scalar gate
      "q36_q15topsupp")

  test("no declared query plans a CartesianProduct; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    graft.SparkEntry.queries.foreach { case (name, run) =>
      val plan = run(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("q35's cross-side disjunction reaches BOTH scans as pushed OR filters") {
    // the point of the Q19 shape: the hand-split per-side unions must land
    // in the parquet scans (an unpushed OR means the join filters post-hoc
    // and the scans read everything — the 100 TB failure mode)
    val qe = graft.SparkEntry.queries("q35_q19disjunct")(spark, dir).queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val byTable = scans.map(f =>
      f.relation.location.rootPaths.mkString -> f.metadata("PushedFilters"))
    def pushedOr(table: String): Boolean = byTable.exists { case (p, filters) =>
      p.contains(table) && filters.contains("Or(")
    }
    assert(pushedOr("lineitem"), s"lineitem scan lost its quantity OR: $byTable")
    assert(pushedOr("part"), s"part scan lost its brand/size OR: $byTable")
  }

  test("parquet scans stay column-pruned on the heavy queries") {
    // a scan reading every lineitem column for a narrow aggregate means
    // projection pushdown broke — check the widest-table queries
    Seq("q07_groupsum", "q02_count", "q14_minmax").foreach { name =>
      val qe = graft.SparkEntry.queries(name)(spark, dir).queryExecution
      // sparkPlan, not executedPlan: AQE wraps the tree before execution
      // and hides the scans from a plain collect
      val scans = qe.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, s"$name: no FileSourceScanExec found")
      scans.foreach { f =>
        if (f.relation.location.rootPaths.mkString.contains("lineitem"))
          assert(f.requiredSchema.fields.length <= 6,
            s"$name reads ${f.requiredSchema.fields.length} lineitem columns: " +
              f.requiredSchema.fieldNames.mkString(","))
      }
    }
  }

  test("e94's executed plan stays small: pins cut the lineage") {
    // each Layout.pin re-enters the plan as one leaf; a pin that kept its
    // upstream lineage embeds the whole near-dup DAG under every consumer
    // (about 50 M characters for this query without the cut)
    val df = graft.SparkEntry.queries("e94_triangles")(spark, dir)
    df.collect()
    val rendered = df.queryExecution.executedPlan.toString.length
    assert(rendered < 100000, s"e94_triangles executed plan renders $rendered chars")
  }

  /** e94 from construction through `collect`: its jobs and executed plans. */
  private def e94Observed() = graft.PlanProbe.observe(spark) {
    graft.SparkEntry.queries("e94_triangles")(spark, dir).collect()
  }

  test("e94's job count from construction through collect stays under its bound") {
    // keyed pins cut the near-dup → triangle path's job floor: at sf0.001
    // it ran 34 jobs before them and 18 with them
    val jobs = e94Observed().jobs
    assert(jobs <= 26, s"e94_triangles ran $jobs jobs")
  }

  test("e94 plans the same way on every run") {
    // ids that legitimately differ between runs of one plan: expression and
    // lambda-variable, plan, RDD and query-stage ids. Anything else (a join
    // strategy or build side picked by which stage finished first) is a
    // plan change.
    def normalized(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.toString
        .replaceAll("#\\d+", "#_")
        .replaceAll("\\bx_\\d+", "x__")
        .replaceAll("plan_id=\\d+", "plan_id=_")
        .replaceAll("QueryStage \\d+", "QueryStage _")
        .replaceAll("\\[\\d+\\]", "[_]")
        .split("\n").toSeq
    val runs = (1 to 3).map(_ => e94Observed().plans.map(normalized)).distinct
    if (runs.size > 1) {
      val (a, b) = (runs(0).flatten, runs(1).flatten)
      val i = a.indices.find(i => i >= b.size || a(i) != b(i)).getOrElse(a.size)
      fail(s"${runs.size} distinct e94 plans; the first two differ at line $i:\n" +
        a.slice(i - 2, i + 6).mkString("\n") + "\n---\n" + b.slice(i - 2, i + 6).mkString("\n"))
    }
  }
}
