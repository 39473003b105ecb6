package graft

import org.apache.spark.sql.execution.ExplainMode

/** Round-deliverable plan dumper: `PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` containing the `.explain("formatted")`
  * output (PushedFilters / ReadSchema / exchange placement, pre-execution)
  * followed by the AQE-final executed plan after a noop-sink run — the two
  * views a plan-shape claim in OPTIMIZATION_r*.md needs as evidence. Same
  * session setup as [[Bench]] so the dumped plan is the measured plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error(
      "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = Tables.session(Tables.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // capture the AQE-FINAL executed plan of the noop write itself: the
    // Dataset's own queryExecution is never executed by `write`, so
    // printing it would show isFinalPlan=false shapes (initial SMJs that
    // AQE converts at runtime would be misreported)
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        lastPlan.set(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      lastPlan.set(null)
      df.write.format("noop").mode("overwrite").save()
      // the listener fires asynchronously; the noop write is the session's
      // only in-flight query, so poll briefly for its final plan
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (lastPlan.get() == null && System.nanoTime() < deadline)
        Thread.sleep(20)
      val executed = Option(lastPlan.get())
        .getOrElse("<listener did not deliver the executed plan>")
      val txt = s"== explain(formatted), initial ==\n$formatted\n" +
        s"== executed plan (AQE final, from the noop-write execution) ==\n$executed\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
