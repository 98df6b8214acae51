package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression pins for the r12/r13 optimization wins
  * (r12 verdict item 8): each of these is a property a Spark upgrade
  * or an innocent-looking refactor could silently undo — the bench
  * would notice eventually, but only as an unattributed slowdown.
  * Asserting on the optimized/executed plan text makes the regression
  * name itself.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Every node of the physical plan, as planned before execution
    * (AQE's initial plan, with the exchanges EnsureRequirements added). */
  private def physicalNodes(df: DataFrame): Seq[SparkPlan] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case n => n }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("typed-events pushdown fence: the JSON parse stays single-evaluated") {
    // r12's best win: without the nondeterministic fence in
    // TypedSamples.fromEvents, Catalyst pushes derived-column
    // predicates below the staging projections and inlines the JSON
    // parse once per conjunct into a serial Filter (measured 153
    // copies in arch_waveform_stats' plan). The fenced plan carries
    // exactly ONE get_json_object.
    val p = plan(SparkEntry.queries("arch_waveform_stats")(spark, sf))
    assert(count(p, "get_json_object") <= 1,
      s"pushdown fence broken: ${count(p, "get_json_object")} " +
        "get_json_object occurrences (expected <= 1) — see " +
        "TypedSamples.fromEvents staging")
  }

  test("IVF assignment is a per-row argmax, not a corpus-wide window") {
    // r12: the corpus x k crossJoin + row_number() window (a full
    // corpus sort shuffle) was replaced by array_max over one
    // broadcast seed row; a Window node reappearing here means the
    // assignment shuffles the corpus again.
    val p = plan(graft.pipeline.Similarity.ivfAssign(
      graft.core.Tables.embeddings(spark, sf), k = 8))
    assert(!p.contains("Window"),
      "ivfAssign plan contains a Window — the argmax rewrite regressed " +
        "to the corpus-wide row_number shuffle")
    assert(!p.contains("SortMergeJoin"),
      "ivfAssign plan shuffles the corpus through a join")
  }

  test("rolling trailing and zscore: one shuffle, no Window node") {
    // the walkers hash on channel once and walk each sorted partition;
    // a second Exchange means an extra pass over the samples, and a
    // Window node means a declarative O(n*frame) RANGE frame is back
    // on the serving path.
    val samples = graft.core.Samples.fromEvents(spark, sf)
    for ((name, df) <- Seq(
        "trailing" -> graft.archive.Rolling.trailing(samples, 3600L),
        "zscore" -> graft.archive.Rolling.zscore(samples, 3600L))) {
      val nodes = physicalNodes(df)
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles == 1, s"Rolling.$name plans $shuffles shuffle Exchanges")
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"Rolling.$name plan contains a Window node")
    }
  }

  test("lshNearest best-mate aggregation is hash-based, not sort-based") {
    // r13: min_by with a struct ordering forces SortAggregate; the
    // packed decimal ordering key keeps the whole best-mate selection
    // in one HashAggregate. A SortAggregate reappearing here means
    // the candidate frame is being re-sorted inside the aggregation.
    val p = plan(graft.pipeline.Similarity.lshNearest(
      graft.core.Tables.embeddings(spark, sf)))
    assert(!p.contains("SortAggregate"),
      "lshNearest aggregation regressed to SortAggregate")
  }

  test("incremental verification never re-aggregates per-doc shingle counts") {
    // r13: the MinHash index persists n_sh, so verifyCandidatesCounted
    // computes ONLY the pair intersection from document text. A
    // per-doc count aggregation sneaking back in doubles the
    // candidate-bounded text shuffle on every ingest batch.
    val docs = graft.core.Tables.documents(spark, sf)
    val idx = graft.pipeline.Dedup.minHashIndex(
      docs.where(col("doc_id") % 4 =!= 0))
    val pairs = graft.pipeline.Dedup.incrementalCandidates(
      idx, docs.where(col("doc_id") % 4 === 0))
    val p = plan(graft.pipeline.Dedup.verifyCandidatesCounted(docs, pairs))
    // the intersection groupBy keys on (doc_a, doc_b, n_a, n_b), the
    // pair-id set is a functionless distinct, and the banding
    // signature aggregate carries 17 functions (16 mins + n_sh) — the
    // counts RE-aggregation this pins against is the one keyed on
    // doc_id alone whose single function is count(1)
    val perDocCount =
      raw"Keys \[1\]: \[doc_id[^\n]*\n\s*Functions \[1\]: \[(partial_)?count\(1\)\]".r
    assert(perDocCount.findFirstIn(p).isEmpty,
      "verifyCandidatesCounted re-aggregates per-doc shingle counts")
  }
}
