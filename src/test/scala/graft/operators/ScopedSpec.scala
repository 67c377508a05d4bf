package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.scalatest.funsuite.AnyFunSuite

/** The barrier recorder: what [[Scoped.capture]] returns, and that a
  * barrier outside it neither records nor plans its input.
  */
class ScopedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // under a declared silver slug, so SilverRegistrySpec's audit of every
  // built key still holds; the part after ':' names no input dir, so no
  // real table's cache entry is shadowed
  private def key(tag: String) = s"word_counts:scoped-spec-$tag-${System.nanoTime}"

  private def frame(n: Long): DataFrame = spark.range(n).toDF("x")

  /** Whether anything ran physical planning on this frame's own
    * QueryExecution (the recorder does; the barrier's write plans a
    * QueryExecution of its own). */
  private def planned(df: DataFrame): Boolean =
    df.queryExecution.tracker.phases.contains(QueryPlanningTracker.PLANNING)

  test("barriers come back in call order with kind, key and enclosing build") {
    val k = key("order")
    val (_, bs) = Scoped.capture {
      Scoped.materialize()(frame(3))
      Scoped.shared(spark, k)((Nil, Scoped.materialize()(frame(2))))
      Scoped.checkpoint(frame(4))
    }
    assert(bs.map(b => (b.kind, b.key, b.in)) === Seq(
      ("materialize", None, None),
      ("materialize", None, Some(k)),
      ("shared", Some(k), None),
      ("checkpoint", None, None)))
    assert(bs.forall(_.input.nonEmpty))
  }

  test("a cached shared call records a shared-hit with no plan") {
    val k = key("hit")
    Scoped.shared(spark, k)((Nil, frame(1)))
    val (df, bs) = Scoped.capture(Scoped.shared(spark, k)(fail("rebuilt a cached table")))
    assert(bs === Seq(Scoped.Barrier("shared-hit", Some(k), None, None)))
    assert(df.count() === 1L)
  }

  test("the recorder is uninstalled when the body throws") {
    intercept[IllegalStateException] {
      Scoped.capture {
        Scoped.materialize()(frame(2))
        throw new IllegalStateException("boom")
      }
    }
    val after = frame(5)
    Scoped.materialize()(after)
    assert(!planned(after), "a barrier after the failed capture still records")
  }

  test("outside capture, materialize and shared never plan their input") {
    // (a local checkpoint plans its input itself, recorder or not)
    val (m, s) = (frame(6), frame(7))
    Scoped.materialize()(m)
    Scoped.shared(spark, key("outside"))((Nil, s))
    assert(Seq(m, s).count(planned) === 0)
    // control: the same barrier inside capture plans its input once
    val in = frame(9)
    val (_, bs) = Scoped.capture(Scoped.materialize()(in))
    assert(planned(in) && bs.size === 1)
  }

  test("a finished stream records its state rows, no plan, only inside capture") {
    val feed = java.nio.file.Files.createTempDirectory("scoped_spec_feed_").toString
    spark.range(10).selectExpr("id % 3 AS k").write.mode("overwrite").parquet(feed)
    def counts() = spark.readStream.schema("k LONG").parquet(feed)
      .groupBy("k").count()
    val (out, bs) = Scoped.capture(
      graft.streaming.Streams.runToParquet(counts(), "complete"))
    assert(out.count() === 3L)
    // one state row per key in the aggregation's store
    assert(bs === Seq(Scoped.Barrier("stream", None, None, None, Some(3L))))
    val (_, inner) = Scoped.capture(Scoped.stream(5L))
    assert(inner.map(_.stateRows) === Seq(Some(5L)))
    Scoped.stream(6L) // no recorder installed: dropped
    assert(Scoped.capture(())._2.isEmpty)
  }
}
