package graft.plans

import graft.TestSpark
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow, WindowGroupLimit}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The window-partition-bound CI (VERDICT r8 "Next round" #2): walk the
  * optimized plan of EVERY SparkEntry query and every Silver build at
  * fixture scale, extract each window operator's partition keys, and
  * fail on any window none of whose keys is declared bounded in
  * [[WindowBounds]]. This turns the recurring per-round "is this window
  * a 100× straggler?" audit (which caught q190/q191 in r7 and q184 in
  * r8 — both windows whose keys looked bounded and weren't) into a
  * build failure at the moment the window is introduced.
  *
  * Key normalization: synthetic projection names (`_w0`, `_we1`, …) are
  * resolved through the plan's aliases back to the source expression,
  * so declarations name real columns/expressions, never positional
  * artifacts of the planner.
  */
class WindowBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Resolve an attribute through plan aliases to a stable key string. */
  private def keyOf(
      e: Expression, aliases: Map[ExprId, Expression],
      seen: Set[ExprId] = Set.empty): String = e match {
    case a: AttributeReference if !seen.contains(a.exprId) &&
        aliases.contains(a.exprId) &&
        (a.name.startsWith("_w") || a.name.startsWith("_group")) =>
      keyOf(aliases(a.exprId), aliases, seen + a.exprId)
    case a: Attribute => a.name
    case other => other.sql.replace("`", "")
  }

  private def aliasMap(plan: LogicalPlan): Map[ExprId, Expression] =
    plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect { case al: Alias => al.exprId -> al.child })
    }.flatten.toMap

  /** (sorted partition-key set) per window operator in the plan — except
    * rank-limit windows: when the optimizer proved the group-limit prune
    * (a WindowGroupLimit child, i.e. the row_number/rank ≤ k pattern),
    * the post-shuffle partition holds ≤ k·|map partitions| rows per key
    * regardless of the key's domain, so no declaration is required.
    */
  private def hasDirectGroupLimit(p: LogicalPlan): Boolean = p match {
    case _: WindowGroupLimit => true
    case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
      hasDirectGroupLimit(pr.child)
    case _ => false
  }

  private def windowKeySets(plan: LogicalPlan): Seq[(Seq[String], LWindow)] = {
    val aliases = aliasMap(plan)
    plan.collectWithSubqueries {
      case w: LWindow if !hasDirectGroupLimit(w.child) =>
        (w.partitionSpec.map(keyOf(_, aliases)).sorted, w)
    }
  }

  /** Rollup evidence for a `ticker`-keyed window (the r10 "declared
    * contract" enforcement): somewhere below the window there must be
    * (a) an Aggregate whose GROUPING emits the ticker column — the
    * inline day/bucket rollup — or (b) a parquet scan of a declared
    * ticker-rollup silver table (the build's Aggregate hides behind the
    * materialization boundary). A window over raw ticks keyed `ticker`
    * has neither and fails.
    */
  private def tickerRollupEvidence(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    p.collectWithSubqueries {
      case a: Aggregate if a.aggregateExpressions.exists {
        case al: Alias => al.name == "ticker" &&
          a.groupingExpressions.exists(_.semanticEquals(al.child))
        case ar: AttributeReference => ar.name == "ticker" &&
          a.groupingExpressions.exists(_.semanticEquals(ar))
        case _ => false
      } => true
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val roots = fs.location.rootPaths.map(_.toString)
          WindowBounds.tickerRollupSilvers.exists(s =>
            roots.exists(_.contains(s"graft_shared_${s}_")))
        case _ => false
      }
    }.contains(true)
  }

  test("every window partition key set across the full query surface is declared bounded") {
    val undeclared = mutable.SortedMap.empty[String, mutable.SortedSet[String]]
    val unexemptGlobal = mutable.SortedSet.empty[String]
    val tickerNoEvidence = mutable.SortedSet.empty[String]
    val buildErrors = mutable.ListBuffer.empty[String]

    // the parquet boundary in Scoped.materialize / Scoped.shared hides
    // pre-write plans behind a FileScan — and that is where most windows
    // live. The census holds those plans (every materialize input's and
    // every shared build's) next to each build's top plan; queries walk
    // first, in name order, then the silver builds.
    PlanCensus.attributed(PlanCensus.queriesFirst).foreach {
      // a query that cannot BUILD is a correctness-gate problem, not a
      // window-bound problem — record it so this spec still reports
      // the full undeclared listing instead of dying on the first one
      case (name, Left(err)) => buildErrors += s"$name: $err"
      case (name, Right(plans)) =>
        plans.flatMap(windowKeySets).foreach {
          case (keys, w) =>
            if (keys.isEmpty) {
              if (!WindowBounds.globalWindowExempt.contains(name))
                unexemptGlobal += name
            } else if (!WindowBounds.isBounded(keys)) {
              undeclared.getOrElseUpdate(keys.mkString(", "),
                mutable.SortedSet.empty[String]) += name
            } else if (keys.contains("ticker") &&
                !keys.exists(Set("_pid", "cu", "chunk")) &&
                !tickerRollupEvidence(w.child)) {
              // the ticker declaration is rollup-grain ONLY — a window
              // that rides it must show the rollup in its own subtree
              tickerNoEvidence += name
            }
        }
    }

    assert(buildErrors.isEmpty, s"query builds failed:\n  ${buildErrors.mkString("\n  ")}")
    val report = undeclared.map { case (ks, qs) =>
      s"""BoundedKey("$ks", "<bound>", Seq(${qs.take(4).map("\"" + _ + "\"").mkString(", ")}))"""
    }.mkString("\n  ")
    assert(undeclared.isEmpty,
      s"window partition key sets with no declared bound — declare in WindowBounds:\n  $report")
    assert(unexemptGlobal.isEmpty,
      "GLOBAL (empty partitionSpec) windows without an exemption: " +
        unexemptGlobal.mkString(", ") +
        " — a single global partition is the straggler shape; either" +
        " re-plan with a bounded key or declare the input tiny in" +
        " WindowBounds.globalWindowExempt")
    assert(tickerNoEvidence.isEmpty,
      "ticker-keyed windows with NO rollup evidence below them (no" +
        " grouping that emits ticker, no ticker-rollup silver scan) — a" +
        " raw per-tick frame must go through Series.chunkedTicks, not" +
        " ride the rollup-grain ticker declaration: " +
        tickerNoEvidence.mkString(", "))
  }

  test("ticker rollup evidence discriminates: raw tick frame rejected, rollup accepted") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ticker").orderBy("seq")
    val raw = spark.range(100).select(
      ($"id" % 3).as("ticker"), $"id".as("seq"), lit(1L).as("cents"))
    // the hazard shape: a window straight over the raw tape
    val bad = raw.withColumn("c", sum($"cents").over(w))
    val badWin = windowKeySets(bad.queryExecution.optimizedPlan)
    assert(badWin.nonEmpty)
    assert(badWin.forall { case (_, node) => !tickerRollupEvidence(node.child) },
      "raw tick window wrongly carries rollup evidence")
    // the sanctioned shape: the day rollup first, then the window
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("ticker").orderBy("day")
    val good = raw.groupBy($"ticker", ($"seq" % 7).as("day"))
      .agg(sum($"cents").as("c"))
      .withColumn("r", sum($"c").over(wd))
    val goodWin = windowKeySets(good.queryExecution.optimizedPlan)
    assert(goodWin.nonEmpty)
    assert(goodWin.forall { case (_, node) => tickerRollupEvidence(node.child) },
      "rollup window evidence not detected")
  }

  test("registry hygiene: keys unique, rationales and exemptions non-empty") {
    val names = WindowBounds.declared.map(_.key)
    assert(names.distinct.size === names.size, "duplicate bounding keys")
    WindowBounds.declared.foreach { k =>
      assert(k.bound.trim.nonEmpty, s"${k.key}: empty bound rationale")
      assert(k.examples.nonEmpty, s"${k.key}: no example consumers")
    }
    WindowBounds.globalWindowExempt.foreach { case (q, why) =>
      assert(why.trim.nonEmpty, s"$q: empty exemption rationale")
    }
  }
}
