package graft

import graft.operators.Scoped
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only: write `explain("formatted")` for named queries to files, one
  * `<name>.txt` each: the top plan, then the executed plan of every barrier
  * the build reached (the plans its FileScans hide), in the order
  * [[Scoped.capture]] records them.
  * Usage: PlanDump <outDir> <dir> <name> [name...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val dir = args(1); val names = args.drop(2)
    val spark = Session.local("32")
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val (df, barriers) = Scoped.capture(SparkEntry.queries(n)(spark, dir))
      val txt = (df.queryExecution.explainString(FormattedMode) +:
        barriers.flatMap { b =>
          b.input.map { qe =>
            s"== barrier: ${b.kind}${b.key.fold("")(" " + _)} ==\n" +
              qe.explainString(FormattedMode)
          }
        }).mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$n.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $n")
    }
    spark.stop()
  }
}
