package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level cost breakdown for q131 (Stupid Backoff) — the suite's most
  * expensive query. `ProfileSB <sfDir>` times each pipeline stage with a
  * noop-sink materialization so the committed artifact's price can be
  * attributed (corpus explode vs count tables vs term build vs scoring
  * probe) instead of guessed at.
  */
object ProfileSB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("benchdata/sf5")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConf ++ Tables.staticConf ++ Tables.scratchDirConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](what: String)(f: => A): A = {
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      println(f"[sb] $what%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def mat(what: String)(df: DataFrame): Unit =
      time(what)(df.write.format("noop").mode("overwrite").save())

    val docs = Tables.t(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t"))
    val tg = toks.filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("source"),
        col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
    mat("tg explode (corpus scan, no agg)")(tg)
    val tcs = time("tcs aggregate + checkpoint")(
      tg.groupBy("w1", "w2", "w3", "source")
        .agg(count(lit(1)).as("c")).localCheckpoint(true))
    println(s"[sb] tcs rows: ${tcs.count()}")
    // rebuild the full term table exactly as stupidBackoff does, by calling
    // the kernel and materializing only through the term table via a probe
    // of 0 rows is impractical — instead time the whole kernel, then the
    // kernel minus the final join by replaying its internals coarsely:
    mat("FULL q131 kernel")(operators.LlmQueries.stupidBackoff(docs))
    mat("FULL q131 kernel (2nd run, warm)")(operators.LlmQueries.stupidBackoff(docs))
    spark.stop()
  }
}
