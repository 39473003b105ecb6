package graft

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
    val spark = Tables.session(Tables.cpus)
    val counts = operators.LlmQueries.candidateCounts(spark, sfDir) ++
      operators.StatsQueries.candidateCounts(spark, sfDir) ++
      operators.VectorQueries.candidateCounts(spark, sfDir)
    val fields = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"dedup_candidates","sf":"$sfDir",$fields}""")
    spark.stop()
  }
}
