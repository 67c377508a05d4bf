package graft.streaming

import graft.{SparkEntry, TestSpark}
import graft.operators.Scoped
import graft.plans.PlanCensus
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-state census CI: every declared StateBound re-runs its
  * query on the fixture and asserts the MEASURED final state rows (the
  * "stream" record [[Scoped.capture]] receives from the query's
  * runToParquet run, read off its last progress) sit within the declared
  * limit recomputed from the input tables — the WindowBounds discipline
  * applied to the other unbounded-growth class. Coverage: every query the
  * plan census sees run a stream must carry a declaration.
  */
class StateBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf001

  /** The final state rows of the last stream `q`'s build and collect ran,
    * −1 when it ran none. */
  private def stateRows(q: String): Long = {
    val (_, bs) = Scoped.capture(SparkEntry.queries(q)(spark, dir).collect())
    bs.filter(_.kind == "stream").lastOption.flatMap(_.stateRows).getOrElse(-1L)
  }

  test("registry covers every runToParquet streaming query in the surface") {
    // the streaming surface routed through runToParquet, as the census
    // observes it (q43 runs its own inline bronze sink with no stateful
    // operator; q103 is the BATCH kafka scan)
    val streaming = PlanCensus.queriesReaching("stream").toSet
    assert(streaming.contains("q317_stream_quantile_sketch"), streaming)
    val undeclared = streaming -- StateBounds.names.toSet
    assert(undeclared.isEmpty, s"stateful queries without a StateBound: $undeclared")
    StateBounds.names.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"StateBound for unknown query $n")
    }
    assert(StateBounds.names.distinct.size === StateBounds.names.size)
  }

  test("measured final state rows respect every declared bound") {
    val failures = StateBounds.declared.flatMap { sb =>
      val measured = stateRows(sb.query)
      val limit = sb.limit(spark, dir)
      // a stateless query reports no stateOperators rows (census 0)
      if (measured < 0) Some(s"${sb.query}: no progress recorded")
      else if (measured > limit)
        Some(s"${sb.query}: state rows $measured exceed declared bound" +
          s" $limit (${sb.bound})")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("tight '=' bounds really are tight on the fixture") {
    // per-key ValueState: exactly one row per key, not merely ≤
    Seq("q55_stateful_user_state" -> StateBounds.declared
          .find(_.query == "q55_stateful_user_state").get,
        "q223_stream_triple_barrier" -> StateBounds.declared
          .find(_.query == "q223_stream_triple_barrier").get,
        "q235_stream_dollar_bars" -> StateBounds.declared
          .find(_.query == "q235_stream_dollar_bars").get)
      .foreach { case (n, sb) =>
        assert(stateRows(n) === sb.limit(spark, dir), n)
      }
  }
}
