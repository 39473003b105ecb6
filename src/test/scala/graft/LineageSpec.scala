package graft

import org.apache.spark.sql.DataFrame

/** graft.Lineage's checkpoint policy: the kind follows the context's
  * checkpoint directory, results do not, and only the reliable kind
  * survives a lost block.
  */
class LineageSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `f` with a fresh checkpoint directory set on the context, cleared
    * afterwards so no later spec inherits it; returns f's result and the
    * directory.
    */
  private def reliably[R](f: => R): (R, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").toFile
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(dir.toString)
      (f, dir)
    } finally sc.setCheckpointDir(null)
  }

  /** Files under `d`, recursively. */
  private def files(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  test("q137 and q144 give the local kind's rows under a checkpoint directory") {
    // q137's n_applied rides an observation on its truncation job, and
    // q144's five funnel stages each truncate: both kinds must count and
    // keep the same rows
    for (q <- Seq("q137_bpe_merges", "q144_training_funnel")) {
      val local = rows(SparkEntry.queries(q)(spark, sf))
      val (reliable, dir) = reliably(rows(SparkEntry.queries(q)(spark, sf)))
      assert(spark.sparkContext.getCheckpointDir.isEmpty, "directory must clear")
      assert(local.nonEmpty, s"$q: no rows")
      assert(reliable == local, s"$q: rows differ between checkpoint kinds")
      assert(files(dir).nonEmpty, s"$q: the reliable kind wrote no checkpoint files")
    }
  }

  test("a lost block fails the local kind loudly; the reliable kind reads identical rows") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.storage.RDDBlockId
    val src = spark.range(0, 1000, 1, 4).selectExpr("id", "id * id % 97 AS v")
    val want = rows(src)
    /** Removes every block of `t`'s truncated RDD; returns how many. */
    def dropBlocks(t: DataFrame): Int = {
      val id = t.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        case p => fail(s"truncation is not an RDD scan: $p")
      }
      val bm = SparkEnv.get.blockManager
      val blocks = bm.getMatchingBlockIds {
        case RDDBlockId(`id`, _) => true
        case _ => false
      }
      blocks.foreach(bm.removeBlock(_))
      blocks.size
    }

    val local = Lineage.truncate(src)
    assert(dropBlocks(local) == 4, "the local kind must pin one block per partition")
    val err = intercept[Exception](local.collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("Checkpoint block rdd_") && m.contains("not found")),
      s"expected Spark's checkpoint-block-not-found error, got:\n${msgs.mkString("\n")}")

    val ((dropped, got), dir) = reliably {
      val t = Lineage.truncate(src)
      (dropBlocks(t), rows(t))
    }
    assert(dropped == 0, "the reliable kind pins no blocks")
    assert(got == want, "the reliable kind must read its files back")
    assert(files(dir).nonEmpty, "the reliable kind wrote no checkpoint files")
  }

  test("observed Long metrics: a null sum is 0; absent or mistyped throws, naming metric and round") {
    val read = operators.LlmQueries.observedLong _
    assert(read(Map("chg_n" -> java.lang.Long.valueOf(7L)), "chg_n", "CC round 2") == 7L)
    assert(read(Map("chg_n" -> null), "chg_n", "CC round 2") == 0L)
    for (m <- Seq(Map.empty[String, Any], Map[String, Any]("chg_n" -> 7))) {
      val e = intercept[IllegalStateException](read(m, "chg_n", "CC round 3"))
      assert(e.getMessage.contains("chg_n") && e.getMessage.contains("CC round 3"),
        e.getMessage)
    }
  }
}
