package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level cost breakdown for q150 (Stupid Backoff + CMS audit) — the
  * suite's most expensive query. `ProfileQ150 <sfDir>` attributes the
  * committed price across the pipeline's stages with noop-sink
  * materializations, the [[graft.ProfileSB]] diagnostic pattern:
  * count-table build (shared with q131), CMS six-pack build, probe+audit
  * checkpoint, and the final probe-join scoring pass.
  */
object ProfileQ150 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConf ++ Tables.staticConf ++ Tables.scratchDirConf)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](what: String)(f: => A): A = {
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      println(f"[q150] $what%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val docs = Tables.t(spark, sfDir, "documents")
    graft.plans.GraftExtensions.register(spark)
    // warmup: absorb session/codegen startup on an unrelated tiny query
    graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // fine-grained replica of sbParts' eager steps (same code path order)
    (1 to 2).foreach { pass =>
      val toks = docs.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("t"))
      val tg0 = toks.filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(0, size(t) - 3),
            |  i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"""
            .stripMargin)).as("g"))
        .select(col("doc_id"), col("source"),
          col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      val tcs0 = time(s"pass$pass   tcs agg+ckpt")(
        tg0.groupBy("w1", "w2", "w3", "source")
          .agg(count(lit(1)).as("c")).localCheckpoint(true))
      println(s"[q150] tcs rows: ${tcs0.count()}")
      val lastBg = toks.filter(size(col("t")) >= 2)
        .select(expr("t[size(t) - 2]").as("b1"), expr("t[size(t) - 1]").as("b2"),
          col("source"), lit(1L).as("c"))
      val bcs0 = time(s"pass$pass   bcs rollup+ckpt")(tcs0
        .select(col("w1").as("b1"), col("w2").as("b2"), col("source"), col("c"))
        .union(lastBg)
        .groupBy("b1", "b2", "source").agg(sum(col("c")).as("c"))
        .localCheckpoint(true))
      val lastTok = toks
        .select(expr("t[size(t) - 1]").as("u"), col("source"), lit(1L).as("c"))
      val ucs0 = time(s"pass$pass   ucs rollup+ckpt")(
        bcs0.select(col("b1").as("u"), col("source"), col("c"))
          .union(lastTok)
          .groupBy("u", "source").agg(sum(col("c")).as("c"))
          .localCheckpoint(true))
      val ns0 = time(s"pass$pass   ns ckpt")(
        ucs0.groupBy("source").agg(sum(col("c")).as("n_src"))
          .localCheckpoint(true))
      time(s"pass$pass   nTot ckpt")(
        ns0.agg(sum(col("n_src")).as("n_tot")).localCheckpoint(true))
      time(s"pass$pass   ucs2 window+ckpt")(
        ucs0.withColumn("cu_tot", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))
          .localCheckpoint(true))
      val p = time(s"pass$pass sbParts (count tables + checkpoints)")(
        LlmQueries.sbParts(docs))
      val (_, sk) = time(s"pass$pass sbSketches (six-pack agg + collect)")(
        LlmQueries.sbSketches(p, 2e-4, 0.999, 42))
      println(s"[q150] sketch bytes: ${sk.map(_.toByteArray.length.toLong).sum}")
      time(s"pass$pass enriched materialize (term table only)")(
        p.enriched.write.format("noop").mode("overwrite").save())
      time(s"pass$pass FULL q131 (shared parts rebuilt)")(
        LlmQueries.stupidBackoff(docs)
          .write.format("noop").mode("overwrite").save())
      time(s"pass$pass FULL q150")(
        LlmQueries.stupidBackoffCms(docs)
          .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
