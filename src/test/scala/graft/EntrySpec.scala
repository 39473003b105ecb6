package graft

/** Driver-contract smoke: `SparkEntry.entry` is the first thing the driver
  * calls (flagship query on sf0.001, rows > 0 expected) — pin it so a
  * registry or session-config regression fails here before the driver run.
  */
class EntrySpec extends SparkSpec {

  test("entry returns a non-empty flagship result on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query has distinct, well-formed names and every oracle refers to a query") {
    val names = SparkEntry.queries.keySet
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names.mkString(", "))
    val orphans = SparkEntry.oracleSql.keySet -- names
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query builds and analyzes on a session graft did not register") {
    // a fresh session has none of the runtime-registered graft_* functions,
    // like a session the driver builds itself; only Tables.t registers them
    // there, so a build that reaches a graft_* call before its first scan
    // fails to analyze
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_is_kpl"))
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      try { build(fresh, "/root/testdata/sf0.001").queryExecution.analyzed; None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
