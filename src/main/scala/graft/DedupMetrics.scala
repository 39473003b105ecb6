package graft

import org.apache.spark.sql.SparkSession

/** Candidate-pair growth probe for the dedup family (BASELINE.md scale
  * table): `DedupMetrics <sfDir>` prints one JSON line with the
  * pre-verification candidate-set sizes from
  * [[operators.LlmQueries.candidateCounts]]. Run at sf0.1 and sf1 to show
  * candidate generation stays near-linear in corpus size — the measurable
  * form of the BucketCap claim (a hot bucket going quadratic would show up
  * here as a superlinear pairs/doc jump long before it OOMs a 100 TB job).
  */
object DedupMetrics {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConf ++ Tables.staticConf ++ Tables.scratchDirConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = operators.LlmQueries.candidateCounts(spark, sfDir) ++
      operators.StatsQueries.candidateCounts(spark, sfDir) ++
      operators.VectorQueries.candidateCounts(spark, sfDir)
    val fields = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"dedup_candidates","sf":"$sfDir",$fields}""")
    spark.stop()
  }
}
