package graft.operators

import graft.TestSpark
import graft.plans.PlanCensus
import org.scalatest.funsuite.AnyFunSuite

/** The silver-table registry: every declared table builds and reads back
  * non-empty, names are unique, and — the audit the registry exists for —
  * every derived table Scoped.shared ACTUALLY materialized this session
  * is covered by a declaration. A new Scoped.shared call site without a
  * registry entry fails here, and so does a consumer list that drifts from
  * the queries the plan census sees reach the table.
  */
class SilverRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry names are unique and every table builds non-empty") {
    assert(Silver.names.distinct.size === Silver.names.size)
    Silver.tables.foreach { t =>
      val df = t.build(spark, TestSpark.Sf001)
      assert(df.schema.nonEmpty, t.name)
      assert(df.limit(1).count() === 1L, s"${t.name} is empty")
      assert(t.consumers.nonEmpty, s"${t.name} declares no consumers")
    }
  }

  test("every Scoped.shared key built this session is a declared silver table") {
    // the previous test (and any suite that ran before this one) has
    // populated the session's build log; nothing in it may be undeclared
    val undeclared = Scoped.builtKeys.filterNot(Silver.covers)
    assert(undeclared.isEmpty,
      s"undeclared silver tables: ${undeclared.mkString(", ")} — " +
        "add them to Silver.tables")
  }

  test("declared consumers are exactly the queries the plan census sees reach each table") {
    // reach includes nested builds: bars_global_rn's build reads
    // daily_bars, so q22 reaches both
    val qid = "q[0-9]+".r
    val declared = Silver.tables.map(t =>
      t.name -> t.consumers.flatMap(qid.findAllIn).toSet).toMap
    val observed = PlanCensus.queryNames.flatMap { q =>
      PlanCensus.reached(q).flatMap(Silver.tableOf)
        .map(_.name -> q.takeWhile(_ != '_'))
    }.groupBy(_._1).map { case (t, hits) => t -> hits.map(_._2).toSet }
    val undeclared = Silver.names.flatMap(t =>
      (observed.getOrElse(t, Set.empty) -- declared(t)).toSeq.sorted.map(q => s"$t <- $q"))
    assert(undeclared.isEmpty,
      s"queries reach silver tables that do not list them as consumers:\n  ${undeclared.mkString("\n  ")}")
    val unreached = Silver.names.flatMap(t =>
      (declared(t) -- observed.getOrElse(t, Set.empty)).toSeq.sorted.map(q => s"$t <- $q"))
    assert(unreached.isEmpty,
      s"declared consumers that never reach their silver table:\n  ${unreached.mkString("\n  ")}")
  }

  test("covers() matches exact and parameterized slugs only") {
    assert(Silver.covers("daily_bars:/some/dir"))
    assert(Silver.covers("kmeans_cents_5:/some/dir"))
    assert(Silver.covers("gbt_model_store"))
    assert(!Silver.covers("mystery_table:/some/dir"))
    assert(!Silver.covers("daily_barsx:/some/dir"))
  }
}
