package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `Explain <queryName> [sfDir] [runs]` times the named
  * `SparkEntry.queries` entry and prints its formatted EXECUTED plan (AQE
  * final), so "is this the plan I'd want at 100 TB" is a one-command check
  * while iterating — the loop the plan audits then pin in CI.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir] [runs]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConf ++ Tables.staticConf ++ Tables.scratchDirConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"[explain] $name @ $sfDir runs=${times.map(t => f"$t%.2f").mkString(",")}s")
    val df = fn(spark, sfDir)
    df.collect() // finalize AQE
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
