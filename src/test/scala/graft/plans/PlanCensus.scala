package graft.plans

import graft.{SparkEntry, TestSpark}
import graft.operators.{Scoped, Silver}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.collection.mutable

/** The whole query surface — every SparkEntry query and every Silver
  * build at fixture scale — built once per JVM under [[Scoped.capture]],
  * after `Scoped.invalidate()` so every shared table is rebuilt and its
  * pre-write plans are seen. The plan registries (WindowBoundsSpec,
  * SharedSubtreeSpec, JoinFanoutSpec) walk it instead of each rebuilding
  * the surface.
  *
  * Per build the census keeps the optimized plans in the order the build
  * planned them: each materialize input, each shared table it reached,
  * and its top plan last. A shared table is built once per session, so its
  * plans belong to the FIRST build that reaches it, and which build that is
  * depends on the walk order. The census records each shared build's plans
  * and the tables it reaches in turn (`bars_global_rn` reaches
  * `daily_bars`), so [[attributed]] can hand the plans out for any order.
  * Checkpoint barriers are not parquet barriers and are left out.
  */
object PlanCensus {

  private sealed trait Node
  private final case class Plan(plan: LogicalPlan) extends Node
  private final case class Key(key: String) extends Node

  val queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  val silverNames: Seq[String] = Silver.tables.map(t => s"silver:${t.name}")
  /** The census's own build order. */
  val queriesFirst: Seq[String] = queryNames ++ silverNames
  val silversFirst: Seq[String] = silverNames ++ queryNames

  private lazy val (builds, keyNodes) = {
    val spark = TestSpark.spark
    val mk: Map[String, () => DataFrame] =
      SparkEntry.queries.map { case (n, fn) =>
        n -> (() => fn(spark, TestSpark.Sf001))
      } ++ Silver.tables.map(t =>
        s"silver:${t.name}" -> (() => t.build(spark, TestSpark.Sf001)))
    val keys = mutable.Map.empty[String, mutable.ListBuffer[Node]]
    def of(key: String) = keys.getOrElseUpdate(key, mutable.ListBuffer.empty)
    Scoped.invalidate()
    val bs = queriesFirst.map { name =>
      name -> (try {
        val (top, barriers) =
          Scoped.capture(mk(name)().queryExecution.optimizedPlan)
        val own = mutable.ListBuffer.empty[Node]
        barriers.foreach { b =>
          val into = b.in.fold(own)(of)
          (b.kind, b.key) match {
            case ("materialize", _) => into += Plan(b.input.get.optimizedPlan)
            case ("shared", Some(k)) =>
              into += Key(k)
              of(k) += Plan(b.input.get.optimizedPlan)
            case ("shared-hit", Some(k)) => into += Key(k)
            case _ => ()
          }
        }
        Right((own :+ Plan(top)).toList)
      } catch {
        case e: Throwable => Left(String.valueOf(e.getMessage))
      })
    }.toMap
    (bs, keys.map { case (k, ns) => k -> ns.toList }.toMap)
  }

  /** Each build in `order` with the plans a walk in that order sees: its
    * own, plus those of every shared table no earlier build reached.
    * Left is the build's error message.
    */
  def attributed(order: Seq[String]): Seq[(String, Either[String, Seq[LogicalPlan]])] = {
    val claimed = mutable.Set.empty[String]
    def expand(nodes: Seq[Node]): Seq[LogicalPlan] = nodes.flatMap {
      case Plan(p) => Seq(p)
      case Key(k) => if (claimed.add(k)) expand(keyNodes.getOrElse(k, Nil)) else Nil
    }
    order.map(n => n -> builds(n).map(expand))
  }

  /** Every shared key a build reaches, directly or through another shared
    * table's build. */
  def reached(name: String): Set[String] = {
    def keysIn(nodes: Seq[Node]): Set[String] = nodes.collect {
      case Key(k) => keysIn(keyNodes.getOrElse(k, Nil)) + k
    }.flatten.toSet
    builds(name).fold(_ => Set.empty[String], keysIn)
  }
}
