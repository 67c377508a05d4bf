package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The silver-reuse CI (r9 verdict "Next round" #5): no two independent
  * top-level builds (queries or silver tables) may plan the SAME
  * canonical fact-scanning Aggregate subtree — a structural duplicate
  * means one of them rebuilds a derived frame the other already
  * materializes (or both should share a new silver table). Within one
  * plan Spark's ReuseExchange already deduplicates; ACROSS queries only
  * this audit does. See [[SharedSubtrees]] for the allowlist contract.
  */
class SharedSubtreeSpec extends AnyFunSuite {

  /** Base FACT tables — the scans worth guarding. Dimension tables
    * (region/nation/supplier/customer/part) are cheap to re-scan by
    * design and excluded.
    */
  private val factTables = Set("lineitem", "orders", "events", "documents",
    "embeddings")

  private def factScans(p: LogicalPlan): Set[String] =
    p.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet.intersect(factTables)

  /** (canonical fingerprint, human signature) per Aggregate subtree that
    * reads a base fact table. The fingerprint is the canonicalized
    * logical plan rendering — ExprIds normalized, so two structurally
    * identical builds from different call sites compare equal (the
    * ReuseExchange equality, applied cross-query).
    */
  private def heavyAggs(p: LogicalPlan): Seq[(String, String)] =
    p.collectWithSubqueries {
      case a: Aggregate =>
        val facts = factScans(a)
        if (facts.isEmpty) Nil
        else {
          val keys = a.groupingExpressions
            .map(_.sql.replace("`", "")).sorted.mkString(",")
          Seq(a.canonicalized.toString ->
            s"[$keys] @ ${facts.toSeq.sorted.mkString("+")}")
        }
    }.flatten

  test("no two top-level builds plan the same canonical fact-scanning aggregate") {
    // fingerprint -> (signature, owning builds); mid-query materialize
    // boundaries are walked too (their pre-write plans hide aggregates).
    // Silver builds walk FIRST so a shared subtree attributes to its
    // declared owner, then every query (which, consuming the silver
    // parquet, must NOT re-plan the build's aggregates structurally)
    val owners = mutable.Map.empty[String, (String, mutable.SortedSet[String])]
    val buildErrors = mutable.ListBuffer.empty[String]
    PlanCensus.attributed(PlanCensus.silversFirst).foreach {
      case (name, Left(err)) => buildErrors += s"$name: $err"
      case (name, Right(plans)) =>
        plans.flatMap(heavyAggs).foreach {
          case (fp, sig) =>
            owners.getOrElseUpdate(fp, (sig, mutable.SortedSet.empty[String]))
              ._2 += name
        }
    }
    assert(buildErrors.isEmpty,
      s"builds failed:\n  ${buildErrors.mkString("\n  ")}")

    val dups = owners.values
      .filter { case (sig, names) =>
        names.size > 1 && !SharedSubtrees.allowed.contains(sig)
      }
      .groupBy(_._1)
      .map { case (sig, hits) =>
        sig -> hits.flatMap(_._2).to(mutable.SortedSet)
      }
    val report = dups.toSeq.sortBy(_._1).map { case (sig, names) =>
      s"$sig rebuilt by: ${names.mkString(", ")}"
    }.mkString("\n  ")
    assert(dups.isEmpty,
      "structurally-equal heavy aggregates planned by multiple builds —" +
        s" promote to Silver or allow in SharedSubtrees with a reason:\n  $report")
  }

  test("registry hygiene: allowlist reasons non-empty") {
    SharedSubtrees.allowed.foreach { case (sig, why) =>
      assert(why.trim.nonEmpty, s"$sig: empty allowlist rationale")
    }
  }
}
