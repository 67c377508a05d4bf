package graft

/** Dev smoke: run the flagship `SparkEntry.entry` the way the driver's t1
  * gate does (rows > 0 on sf0.001) and print the count + schema.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
