package graft

/** Contract tests for [[Bounded]] — the round-15 driver-fetch guard that
  * PlanAuditSpec's source audit forces all operator code through.
  */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  test("collect returns all rows of an in-cap frame, in full") {
    val got = Bounded.collect((1 to 10).toDF("x"), cap = 10, what = "ten rows")
    assert(got.map(_.getInt(0)).sorted.toSeq == (1 to 10))
  }

  test("collect THROWS on a frame exceeding its declared cap, naming the culprit") {
    val e = intercept[IllegalArgumentException] {
      Bounded.collect(spark.range(1000).toDF(), cap = 99, what = "audit me")
    }
    assert(e.getMessage.contains("audit me"))
    assert(e.getMessage.contains("99"))
  }

  test("collect never materializes far past the cap (take semantics)") {
    // a frame of 10M rows with cap 5 must fail fast, not OOM-collect:
    // take(cap+1) fetches at most a handful of partitions
    val e = intercept[IllegalArgumentException] {
      Bounded.collect(spark.range(10000000L).toDF(), cap = 5, what = "huge")
    }
    assert(e.getMessage.contains("huge"))
  }

  test("one returns the single row of a 1-row frame and rejects 0 or 2+") {
    import org.apache.spark.sql.functions._
    assert(Bounded.one(spark.range(5).agg(sum("id")), "sum").getLong(0) == 10L)
    val none = intercept[IllegalArgumentException] {
      Bounded.one(spark.range(5).filter(col("id") > 100), "empty")
    }
    assert(none.getMessage.contains("empty"))
    val many = intercept[IllegalArgumentException] {
      Bounded.one(spark.range(5), "too many")
    }
    assert(many.getMessage.contains("too many"))
  }

  test("collectRdd enforces the cap on the RDD path") {
    val sc = spark.sparkContext
    assert(Bounded.collectRdd(sc.parallelize(1 to 7), 7, "rdd ok").sorted.toSeq == (1 to 7))
    val e = intercept[IllegalArgumentException] {
      Bounded.collectRdd(sc.parallelize(1 to 100), 7, "rdd over")
    }
    assert(e.getMessage.contains("rdd over"))
  }

  /** Runs `body` in an isolated child session (a listener there sees OUR
    * fetches only, not whatever a concurrently-running suite executes) and
    * returns its result with the CollectLimit limits of the `n` plans it
    * executed — the at-most-k-rows claims verified against the EXECUTED
    * plans, not the helpers' source.
    */
  private def executedLimits[R](n: Int)(
      body: org.apache.spark.sql.SparkSession => R): (R, List[Int]) = {
    import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val s = spark.newSession()
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    val result = try {
      val r = body(s)
      // listener delivery is async; wait for all n plans (bounded)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (plans.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally s.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val captured = plans.asScala.toList
    assert(captured.size == n, s"expected $n fetch plans, saw ${captured.size}")
    (result, captured.flatMap(_.collect { case c: CollectLimitExec => c.limit }))
  }

  test("nonEmpty probes at most one row (limit-1 plan) and answers both ways") {
    import org.apache.spark.sql.functions._
    val (answers, limits) = executedLimits(2) { s =>
      (Bounded.nonEmpty(s.range(1000000L), "big probe"),
        Bounded.nonEmpty(s.range(5).filter(col("id") > 100), "empty probe"))
    }
    assert(answers == ((true, false)))
    // a regression of nonEmpty to e.g. `count() != 0` executes an
    // aggregate with no CollectLimit and fails here (ADVICE r16)
    assert(limits == List(1, 1), s"nonEmpty must probe via limit-1 plans, got $limits")
  }

  test("upTo returns every row at exactly cap and None at cap + 1") {
    val atCap = Bounded.upTo(spark.range(10).toDF(), cap = 10, what = "at cap")
    assert(atCap.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 10L))
    assert(Bounded.upTo(spark.range(11).toDF(), cap = 10, what = "one over").isEmpty)
  }

  test("upTo never fetches more than cap + 1 rows (limit cap+1 plan), however large the frame") {
    val (got, limits) = executedLimits(1) { s =>
      Bounded.upTo(s.range(10000000L).toDF(), cap = 5, what = "huge")
    }
    assert(got.isEmpty)
    assert(limits == List(6), s"upTo must fetch through a limit-(cap+1) plan, got $limits")
  }

  // ---- Bench third-sample trigger (VERDICT r15 ask #2) ------------------

  test("third sample fires on intra-round >2x disagreement (the r12 stall case)") {
    assert(Bench.needsThirdSample(List(0.20, 0.62), prevMin = None))
    assert(!Bench.needsThirdSample(List(0.50, 0.60), prevMin = None))
  }

  test("third sample fires when BOTH samples exceed the prior round's committed min by >2x (the r15 q78 case)") {
    // q78 r15: committed [2.77, 2.77] vs r14's 0.31 min — agreement
    // between two contended samples must no longer suppress the reprice
    assert(Bench.needsThirdSample(List(2.77, 2.77), prevMin = Some(0.31)))
    // in-family with the prior round: no extra sample
    assert(!Bench.needsThirdSample(List(0.35, 0.40), prevMin = Some(0.31)))
    // a prior-round failure marker (-1.0) is not a reference price
    assert(!Bench.needsThirdSample(List(0.35, 0.40), prevMin = Some(-1.0)))
  }

  test("third sample never fires on failed samples or after one already ran") {
    assert(!Bench.needsThirdSample(List(-1.0, 0.40), prevMin = Some(0.1)))
    assert(!Bench.needsThirdSample(List(2.0, 2.1, 0.3), prevMin = Some(0.1)))
  }

  test("third sample fires when BOTH samples' windows are high-steal (VERDICT r16 ask #2)") {
    // agreeing runs, in-family with the prior round — but the hypervisor
    // took >3% of both measurement windows, so neither is trustworthy
    assert(Bench.needsThirdSample(List(0.50, 0.55), prevMin = Some(0.45),
      steals = List(4.2, 3.1)))
    // one clean window is enough to keep the committed min honest
    assert(!Bench.needsThirdSample(List(0.50, 0.55), prevMin = Some(0.45),
      steals = List(4.2, 0.3)))
    // exactly at the gate is NOT above it
    assert(!Bench.needsThirdSample(List(0.50, 0.55), prevMin = Some(0.45),
      steals = List(Bench.StealPctGate, Bench.StealPctGate)))
    // unknown steal (-1 markers) never fires the steal rule
    assert(!Bench.needsThirdSample(List(0.50, 0.55), prevMin = Some(0.45),
      steals = List(-1.0, -1.0)))
    // steal rule is still bounded to the two-sample state
    assert(!Bench.needsThirdSample(List(0.5, 0.55, 0.52), prevMin = None,
      steals = List(9.0, 9.0, 9.0)))
  }

  test("stealPct: delta ratio of the sample window, -1 on unknown or empty windows") {
    // 50 steal jiffies out of a 1000-jiffy window = 5%
    assert(Bench.stealPct((100L, 10000L), (150L, 11000L)) == 5.0)
    assert(Bench.stealPct((-1L, -1L), (150L, 11000L)) == -1.0)
    assert(Bench.stealPct((100L, 10000L), (-1L, -1L)) == -1.0)
    // zero-width window (two reads inside one jiffy) must not divide by 0
    assert(Bench.stealPct((100L, 10000L), (100L, 10000L)) == -1.0)
  }

  test("prevMins reads a committed sidecar's queries map and degrades to empty on junk") {
    val dir = java.nio.file.Files.createTempDirectory("prevmins")
    val good = dir.resolve("details.json")
    java.nio.file.Files.writeString(good,
      """{"queries":{"q1":0.25,"q2":1.5},"details":{}}""")
    assert(Bench.prevMins(good.toString) == Map("q1" -> 0.25, "q2" -> 1.5))
    val bad = dir.resolve("junk.json")
    java.nio.file.Files.writeString(bad, "not json at all")
    assert(Bench.prevMins(bad.toString).isEmpty)
    assert(Bench.prevMins(dir.resolve("missing.json").toString).isEmpty)
  }

  // ---- stdout regime summary + pipeline_rps discipline (r18, VERDICT ----
  // ---- r17 asks #2 and #4) ----------------------------------------------

  test("minRunSteal picks the steal of the run that produced the committed min") {
    // min run is index 1 (0.20 s): its window's steal is the committed one
    assert(Bench.minRunSteal(List(0.62, 0.20), List(0.1, 4.2)) == 4.2)
    // failed runs (-1.0 s) never hold the min, even though -1 < everything
    assert(Bench.minRunSteal(List(-1.0, 0.40), List(9.9, 0.3)) == 0.3)
    // unknown steal on the min run degrades to -1, not a phantom 0
    assert(Bench.minRunSteal(List(0.5, 0.4), List(2.0, -1.0)) == -1.0)
    // mismatched arrays / all-failed runs degrade to unknown
    assert(Bench.minRunSteal(List(0.5, 0.4), List(2.0)) == -1.0)
    assert(Bench.minRunSteal(List(-1.0, -1.0), List(1.0, 2.0)) == -1.0)
    assert(Bench.minRunSteal(Nil, Nil) == -1.0)
    // ANY negative steal is unknown, mirroring the Python mirror's
    // `None if s < 0` rule exactly — the old max(s, -1.0) passed a
    // hypothetical -0.5 through as a "known" value (ADVICE r18)
    assert(Bench.minRunSteal(List(0.5, 0.4), List(2.0, -0.5)) == -1.0)
  }

  test("medianSteal ignores unknown (-1) entries and is -1 when nothing is known") {
    assert(Bench.medianSteal(Seq(0.1, 5.0, 0.3)) == 0.3)
    assert(Bench.medianSteal(Seq(-1.0, 2.0, -1.0)) == 2.0)
    // even count of known entries: midpoint of the two middles, not the
    // upper-middle (which would report [0.5, 6.0] as 6.0)
    assert(Bench.medianSteal(Seq(0.5, 6.0)) == 3.25)
    assert(Bench.medianSteal(Seq(4.0, -1.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.medianSteal(Seq(-1.0, -1.0)) == -1.0)
    assert(Bench.medianSteal(Nil) == -1.0)
  }

  test("prevDetailMin reads a details-map entry's min valid run (the rps cross-round reference)") {
    val dir = java.nio.file.Files.createTempDirectory("prevdetail")
    val good = dir.resolve("details.json")
    java.nio.file.Files.writeString(good,
      """{"queries":{"q1":0.25},"details":{"pipeline_rps":
        |{"ts_ms":1,"runs":[-1.0,0.31,0.25],"loadavg":[1,1,1],
        |"steal_pct":[0,0,0]}}}""".stripMargin)
    assert(Bench.prevDetailMin(good.toString, "pipeline_rps") == Some(0.25))
    // absent key / junk file / missing file degrade to None, same
    // contract as prevMins
    assert(Bench.prevDetailMin(good.toString, "nope").isEmpty)
    val bad = dir.resolve("junk.json")
    java.nio.file.Files.writeString(bad, "{")
    assert(Bench.prevDetailMin(bad.toString, "pipeline_rps").isEmpty)
    assert(Bench.prevDetailMin(
      dir.resolve("missing.json").toString, "pipeline_rps").isEmpty)
  }
}
