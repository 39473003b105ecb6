package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Benchmark harness for graft. One JVM runs one workload:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <tablesDir> --work <scratchDir> --result <file>
  * }}}
  *
  * It sets the workload up [[Main.SetUps]] times, each in a fresh Spark
  * session (inputs and one untimed warm-up unit), settles the last session
  * with a few more untimed units, then runs the workload on it as a closed
  * loop for `--seconds`, checks every output
  * it produced and writes the measurements as one JSON object to
  * `--result`. With `--trace 1` the window is split: an untraced half, then
  * a traced half that also records spans and Spark/stream listener
  * counters, followed by isolated per-layer measurements.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, data: String, work: String, result: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, m.getOrElse("data", ""), need("work"), need("result"))
  }

  /** What one workload reports: end-to-end figures, operation counts and,
    * in a traced run, per-layer figures.
    */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val outputs = mutable.LinkedHashMap.empty[String, String]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Runs one operation, counting it; an exception counts as a failure. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      }
    }
  }

  /** One workload's steps: `setUp` prepares its inputs in a fresh session
    * and runs one untimed warm-up unit; `measure` settles the last session
    * set up with a few more untimed units, then runs the measured window(s)
    * on it; `release` drops what the harness
    * itself holds, so the retained memory read after it is graft's.
    */
  trait Workload {
    def setUp(spark: SparkSession, round: Int): Unit
    def measure(spark: SparkSession): Unit
    def release(): Unit
  }

  /** Fewest passes (or cycles) the end-to-end window runs, however long
    * they take: the first one after warm-up still runs slow, and with fewer
    * than three the median leans on it. A traced run's two half windows
    * need only one each; they feed per-layer figures, which have no bound.
    */
  val MinUnits = 3

  /** Set-ups per run. The first also pays JVM start, class loading and
    * once-per-JVM initialisation and is reported alone as the per-layer
    * `setup.cold_s`; `setup_s` is the median of all of them, so one slow
    * set-up does not move it.
    */
  val SetUps = 3

  /** Logs a set-up phase boundary to the harness log. */
  def phase(name: String): Unit = println(f"[perfbench] $name at ${sinceJvmStartS()}%.2f s")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    graft.Tables.staticConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    graft.Tables.sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    phase(s"session local[$cores] ready")
    spark
  }

  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** MB the JVM still holds once the workload is done: heap live after a
    * full collection plus non-heap (metaspace, code cache). Cached frames,
    * memos and compiled classes a workload leaves behind show here; the
    * peak resident set does not serve, it follows the collector's heap
    * sizing and swings by a fifth between identical runs.
    */
  def retainedMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Seconds since this JVM started, the clock of the harness log. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def toJson(r: Report): String = {
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.map(str).mkString("[", ",", "]"),
      "metrics" -> obj(r.metrics.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
      "outputs" -> obj(r.outputs.map { case (k, v) => k -> str(v) })))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val r = new Report
    val w: Workload = a.workload match {
      case "iterative" => new QueryWorkload(a, r)
      case "stream-kpl" => new StreamWorkload(a, r, a.cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    try {
      for (round <- 1 to SetUps) {
        if (spark != null) { spark.stop(); System.gc() }
        val t0 =
          if (round == 1) java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
          else System.currentTimeMillis()
        spark = session(a.cores, a.work)
        w.setUp(spark, round)
        setups += (System.currentTimeMillis() - t0) / 1000.0
        phase(f"set-up $round done in ${setups.last}%.2f s")
      }
      System.gc()
      r.metrics("setup_s") = median(setups.toSeq)
      r.layers("setup.cold_s") = setups.head
      w.measure(spark)
      w.release()
      r.metrics("retained_mb") = retainedMb()
    } finally if (spark != null) spark.stop()
    if (a.workload == "stream-kpl" && a.trace) StreamWorkload.singleThreadBaseline(a, r)
    Files.write(new File(a.result).toPath, toJson(r).getBytes(StandardCharsets.UTF_8))
  }
}
