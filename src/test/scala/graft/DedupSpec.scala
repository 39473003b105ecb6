package graft

import org.apache.spark.sql.functions._

/** Behavior specs for the dedup-resolution operators (LlmQueries q83/q87):
  * the connected-components pass must do genuinely TRANSITIVE work — merge
  * planted A~B~C chains whose endpoints share no LSH bucket — which 1-hop
  * canonical-min provably cannot.
  */
class DedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q87 merges transitive chains that 1-hop resolution splits") {
    val corpus = operators.LlmQueries.chainCorpus(spark, sf).persist()
    val cc = operators.LlmQueries.connectedComponents(corpus)
      .select("doc_id", "canonical").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // recompute the 1-hop resolution (q83's shape) on the SAME corpus
    val bands = operators.LlmQueries.bandTable(corpus)
    val a = bands.select(col("doc_id"), col("band"), col("band_key"))
    val b = bands.select(col("doc_id").as("nbr_id"), col("band").as("band2"),
      col("band_key").as("band_key2"))
    val oneHop = a.join(b,
      a("band") === b("band2") && a("band_key") === b("band_key2"))
      .groupBy(col("doc_id")).agg(min(col("nbr_id")).as("canonical"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.unpersist()

    // fixed point is never ABOVE the 1-hop min, and strictly below it for
    // at least one doc: a chain endpoint whose only path to its canonical
    // runs through an intermediate near-dup (the planted A~B~C case)
    val both = cc.keySet intersect oneHop.keySet
    assert(both.forall(k => cc(k) <= oneHop(k)))
    val transitiveOnly = both.filter(k => cc(k) < oneHop(k))
    assert(transitiveOnly.nonEmpty,
      "no doc needed transitivity — planted chains all share endpoint buckets")

    // the planted chains themselves: most C(+20000) docs must resolve all
    // the way to their original A, two hops away
    val cDocs = cc.keys.filter(_ >= 20000).toSeq
    val merged = cDocs.count(k => cc(k) == k - 20000)
    assert(merged >= cDocs.size / 2,
      s"only $merged of ${cDocs.size} planted chains merged to the original")
  }

  test("over-cap buckets are dropped: candidate fan-out stays bounded") {
    import spark.implicits._
    // 500 copies of one text: every band bucket holds all 500 docs, so an
    // uncapped LSH self-join would emit C(500,2) ≈ 125k candidate pairs —
    // the boilerplate mega-bucket that kills the join at 100 TB. Plus one
    // normal near-dup pair (identical text, 2 members per bucket) that the
    // cap must NOT touch.
    val mega = (1L to 500L)
      .map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
    val pair = Seq(
      (1001L, "the quick brown fox jumps over the lazy dog today"),
      (2001L, "the quick brown fox jumps over the lazy dog today"))
    val corpus = (mega ++ pair).toDF("doc_id", "text")

    val capped = operators.LlmQueries.candidatePairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1001L, 2001L)),
      s"cap must keep exactly the normal pair, got ${capped.size} pairs")

    // same generator with the cap lifted: the quadratic blow-up is real
    val uncapped = operators.LlmQueries.candidatePairs(corpus, cap = 1000).count()
    assert(uncapped >= 500L * 499 / 2,
      s"uncapped generator should explode quadratically, got $uncapped")

    // the CC resolution stays total under capping: every doc keeps a row,
    // mega docs resolve to themselves (no surviving edges), the pair merges
    val cc = operators.LlmQueries.connectedComponents(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 502, s"CC must cover every doc, got ${cc.size}")
    assert(cc(2001L) == 1001L && cc(1001L) == 1001L)
    assert((1L to 500L).forall(i => cc(i) == i),
      "mega-bucket docs must fall back to self-canonical, not merge")
  }

  /** The distributed CC loop run directly, inside the same edge-cache
    * lifecycle [[operators.LlmQueries.labelPropagation]] gives it. Spec
    * graphs are far below the driver-finish cap, so through the
    * dispatcher these loop specs would run the driver path and test
    * nothing about the loop.
    */
  private def loop(docs: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      broadcastChaseBelow: Long = operators.LlmQueries.DriverRows,
      checkpointDir: Option[String] = None,
      roundStats: (Int, Long, Long) => Unit = (_, _, _) => ()) =
    operators.LlmQueries.withEdgeCache(edges)(operators.LlmQueries
      .labelPropagationLoop(docs, _, broadcastChaseBelow, checkpointDir, roundStats))

  /** Symmetric path graph 0—1—…—d (no self-edges) plus its isolated docs. */
  private def chainGraph(d: Int) = {
    import spark.implicits._
    val docs = (0L to d.toLong).toDF("doc_id")
    val fwd = (0L until d.toLong).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    (docs, edges)
  }

  test("both chase forms (broadcast and fused) produce identical labels and rounds") {
    // the physical form is picked per round by the changed-set size; test
    // corpora are always below the 2M default, so without forcing the
    // threshold the big-round FUSED branch would never run in tests. Pin
    // both forms to identical labels AND round counts on chains (where
    // the halving reach matters) and on the planted-bucket corpus.
    for (d <- Seq(16, 64)) {
      val (docs, edges) = chainGraph(d)
      val (lb, rb) = loop(docs, edges)
      val (lf, rf) = loop(docs, edges,
        broadcastChaseBelow = 0L) // force the fused branch every round
      assert(rb == rf, s"d=$d: rounds differ broadcast=$rb fused=$rf")
      val mb = lb.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mf = lf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mb == mf, s"d=$d: labels differ between chase forms")
    }
  }

  test("labelPropagation: pointer halving converges in O(log d) rounds") {
    // Chains of known diameter pin the pointer-halving claim as a measured
    // round count: each round applies one neighbor-min then one pointer
    // chase (label(label(x))), so reach grows geometrically (2, 6, 14, …
    // = 2^(r+1)-2 hops after r rounds) and a diameter-d chain must settle
    // in ≤ ceil(log2(d)) + 2 rounds (incl. the no-change confirmation
    // round). Without halving, a d=64 chain would need ~65 rounds — the
    // assertion fails loudly if the pointer join is ever dropped.
    for (d <- Seq(4, 16, 64)) {
      val (docs, edges) = chainGraph(d)
      val (labels, rounds) = loop(docs, edges)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == d + 1)
      assert(got.values.forall(_ == 0L),
        s"d=$d: every node must resolve to root 0, got ${got.filterNot(_._2 == 0L)}")
      val bound = math.ceil(math.log(d) / math.log(2)).toInt + 2
      assert(rounds <= bound,
        s"d=$d: $rounds rounds exceeds pointer-halving bound $bound")
    }
  }

  test("labelPropagation: self-edge-free symmetric edges cannot label-swap") {
    import spark.implicits._
    // The advisor's counterexample: on chain 1—2—3 WITHOUT self-edges, a
    // neighbors-only min lets labels swap (1↔2) while the sum stays fixed,
    // silently converging to wrong labels. The own-label term in the min
    // must make this resolve fully to 1.
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val (labels, _) = loop(docs, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("keepBest: argmax quality per cluster with min-doc_id tie-break") {
    import spark.implicits._
    val m = Seq(
      (1L, 1L, 0.5), (2L, 1L, 0.9), (3L, 1L, 0.9), // tie: 2 and 3 at 0.9
      (10L, 10L, 0.1),                             // singleton cluster
      (20L, 20L, 0.2), (21L, 20L, 0.3)             // clear non-min winner
    ).toDF("doc_id", "canonical", "quality")
    val got = operators.LlmQueries.keepBest(m).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 0.9, 3L)),   // tie broken to the smaller doc_id
      10L -> ((10L, 0.1, 1L)),
      20L -> ((21L, 0.3, 2L))), s"got $got")
  }

  test("q103 keeps each planted chain's highest-quality member") {
    // Independent Scala recomputation of the q47 quality formula: for every
    // multi-member cluster the keep policy must pick exactly the argmax
    // (tie -> min doc_id) — and the planted junk tokens must make at least
    // one chain keep a NON-original member (the branch min(doc_id) gets
    // wrong), or the test corpus isn't exercising the policy at all.
    val corpus = operators.LlmQueries.chainCorpus(spark, sf).persist()
    val keep = operators.LlmQueries.qualityKeep(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = operators.LlmQueries.connectedComponents(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.unpersist()

    def quality(text: String): Double = {
      val toks = text.split(" ", -1)
      val ttr = toks.distinct.length.toDouble / toks.length
      val punct = text.replaceAll("[a-z0-9 ]", "").length.toDouble / text.length
      val q = 0.3 * ttr + 0.4 * (1.0 - punct) +
        0.3 * math.min(toks.length / 100.0, 1.0)
      BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    val members = cc.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    assert(keep.keySet == members.keySet)
    for ((canon, docs) <- members) {
      val want = docs.minBy(d => (-quality(texts(d)), d))
      assert(keep(canon) == want,
        s"cluster $canon: kept ${keep(canon)}, argmax is $want " +
          s"(qualities ${docs.map(d => d -> quality(texts(d)))})")
    }
    val nonMin = members.filter { case (c, ds) => ds.size > 1 && keep(c) != ds.min }
    assert(nonMin.nonEmpty,
      "every cluster kept min(doc_id) — quality-aware branch never fired")
  }

  test("labelPropagation: reliable checkpoint dir yields identical labels and rounds") {
    // cluster fault-tolerance option: a reliable checkpoint dir swaps the
    // per-round localCheckpoint (executor-block storage, lost on executor
    // death) for DFS checkpoints. Pin that the mode switch changes ONLY
    // durability: labels and round counts identical on a chain.
    val (docs, edges) = chainGraph(32)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val statsLocal = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    val statsRel = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    val (lb, rb) = loop(docs, edges,
      roundStats = (r, f, d) => statsLocal += ((r, f, d)))
    val (lc, rc) = loop(docs, edges,
      checkpointDir = Some(dir),
      roundStats = (r, f, d) => statsRel += ((r, f, d)))
    assert(rb == rc, s"rounds differ local=$rb reliable=$rc")
    val mb = lb.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mc = lc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mb == mc, "labels differ between checkpoint modes")
    assert(new java.io.File(dir).listFiles.nonEmpty,
      "reliable mode must actually write checkpoint files")
    // ADVICE r13: reliable df.checkpoint() re-runs the plan for the
    // checkpoint-write job, so riding CollectMetrics through it double-
    // counted (~2x frontierN/deltaN). Reliable mode now recomputes the
    // sizes from the checkpointed result (ground truth by construction);
    // local mode keeps the observe. The loops are deterministic, so the
    // per-round sizes must agree EXACTLY between modes — a resurfaced 2x
    // channel on either side fails this immediately.
    assert(statsLocal.toList == statsRel.toList,
      s"per-round (frontierN, deltaN) diverged:\n local=$statsLocal\n rel=$statsRel")
    assert(statsLocal.last._2 == 0L, "final round must observe an empty change-set")
  }

  test("q113 Bloom pre-filter reproduces q92's exact rows and actually filters") {
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    // same rows as the exact path: the filter's one-sided error means the
    // pre-filter may only ADD candidates (killed by the exact join),
    // never drop a hit — so the two queries must be row-identical
    val exact = SparkEntry.queries("q92_decontaminate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bloom = operators.LlmQueries.decontaminateBloom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bloom == exact, "Bloom path diverged from the exact decontamination")
    assert(exact.nonEmpty, "fixture planted no contamination — vacuous test")
    // selectivity must not saturate: because the filter is sized from the
    // eval cardinality, survivors ≈ true hits + fpp·corpus. A fixed-width
    // sketch fails this at scale (the r10 CMS variant kept 92% at sf2).
    val (total, kept) = operators.LlmQueries.decontamReduction(docs)
    assert(kept <= 0.2 * total,
      s"pre-filter kept $kept of $total shingle rows — filter saturated")
  }

  test("labelPropagation: empty corpus returns empty labels, no NPE") {
    import spark.implicits._
    val docs = Seq.empty[Long].toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (labels, _) = loop(docs, edges)
    assert(labels.count() == 0L)
  }

  test("driver finish and distributed loop give identical labels; the driver path runs no rounds") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def rows(df: DataFrame) = df.select("doc_id", "canonical", "kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def same(name: String, docs: DataFrame, edges: DataFrame) = {
      val (viaDriver, driverRounds) = operators.LlmQueries.labelPropagation(docs, edges)
      assert(driverRounds == 0, s"$name: driver finish ran $driverRounds rounds")
      val (viaLoop, _) = loop(docs, edges)
      val (d, l) = (rows(viaDriver), rows(viaLoop))
      assert(d == l, s"$name: driver-only ${d -- l}, loop-only ${l -- d}")
      d
    }
    for (d <- Seq(4, 16, 64)) {
      val (docs, edges) = chainGraph(d)
      same(s"chain d=$d", docs, edges)
    }
    same("label-swap graph", Seq(1L, 2L, 3L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst"))
    same("empty corpus", Seq.empty[Long].toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    // many components of mixed shape over scattered ids, with duplicate
    // edges, self-edges and isolated docs — union order must not matter
    val rnd = new scala.util.Random(42)
    val ids = Array.fill(400)(rnd.nextInt(1000000).toLong).distinct
    val und = Seq.fill(300)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
    val sym = und ++ und.map(_.swap) ++ und.take(20)
    val randomGraph = ids.toSeq.toDF("doc_id")
    val nComponents = same("seeded random graph", randomGraph, sym.toDF("src", "dst"))
      .map(_._2).size
    assert(nComponents > 50, s"random graph has only $nComponents components")
    val corpus = operators.LlmQueries.chainCorpus(spark, sf).persist()
    val fromCC = rows(operators.LlmQueries.connectedComponents(corpus))
    val (viaLoop, _) = loop(corpus.select("doc_id"), operators.LlmQueries.starEdges(corpus))
    corpus.unpersist()
    assert(fromCC == rows(viaLoop), "connectedComponents differs from the loop on the chain corpus")
    assert(fromCC.exists(r => !r._3), "chain corpus merged nothing — vacuous comparison")
  }

  test("labelPropagation leaves only its result persisted, on both paths") {
    // a leaked edge cache (or per-round checkpoint) stays pinned in the
    // block manager until a driver GC happens to notice it; the eagerly
    // checkpointed result is the one persisted RDD a CC call may add
    val sc = spark.sparkContext
    val (docs, edges) = chainGraph(16)
    def added(run: => org.apache.spark.sql.DataFrame): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      run
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    val driver = added(operators.LlmQueries.labelPropagation(docs, edges)._1)
    assert(driver.size <= 1, s"driver finish left ${driver.size} persisted RDDs")
    val distributed = added(loop(docs, edges)._1)
    assert(distributed.size <= 1, s"distributed loop left ${distributed.size} persisted RDDs")
  }

  test("q114 DSIR scores match an independent computation and rank target-like docs up") {
    import spark.implicits._
    // target corpus speaks {alpha, beta}; raw pool has one target-like doc,
    // one off-distribution doc, one mixed doc
    val rows = Seq(
      (1L, "src0", "alpha beta alpha"),
      (2L, "src1", "beta alpha beta beta"),
      (10L, "srcX", "alpha beta beta"),   // target-like
      (11L, "srcY", "zulu yankee zulu"),  // off-distribution
      (12L, "srcZ", "alpha zulu"))        // mixed
    val docs = rows.toDF("doc_id", "source", "text")
    val got = operators.LlmQueries.dsirSelect(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

    // independent reference computation, immune to md5 bucket collisions:
    // same bucketing function, plain Scala maps
    def bucket(tok: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x"
    }
    val toks = rows.flatMap { case (id, src, text) =>
      text.split(" ").map(t => (id, src, bucket(t))) }
    val target = toks.filter(t => t._2 == "src0" || t._2 == "src1")
    val raw = toks.filterNot(t => t._2 == "src0" || t._2 == "src1")
    val ct = target.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cr = raw.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nt, nr) = (target.size.toLong, raw.size.toLong)
    // micro-unit floor-division form (all operands non-negative, so Long
    // truncation == floor, matching both engines' integer division)
    val want = raw.groupBy(_._1).view.mapValues { ts =>
      val score = ts.map(t =>
        ct.getOrElse(t._3, 0L) * 1000000L / nt -
          cr.getOrElse(t._3, 0L) * 1000000L / nr).sum
      (score, score > 0L)
    }.toMap
    assert(got == want, s"engine scores $got != reference $want")
    // the semantics the score exists for: target-like > mixed > disjoint,
    // and only the target-like doc is selected
    assert(got(10L)._1 > got(12L)._1 && got(12L)._1 > got(11L)._1)
    assert(got(10L)._2 && !got(11L)._2)
  }

  test("q114 fails loudly on an empty target pool, empty raw pool is empty output") {
    import spark.implicits._
    // no doc from a target source: nt = 0 would make the non-ANSI div
    // silently NULL every score — the guard must raise instead
    val noTarget = Seq((1L, "srcX", "alpha beta")).toDF("doc_id", "source", "text")
    val eT = intercept[Exception] {
      operators.LlmQueries.dsirSelect(noTarget).collect()
    }
    assert(eT.getMessage.contains("empty target pool"), eT.getMessage)
    // all docs target-sourced: the probe side is empty, so BOTH engines
    // produce an empty frame without touching the nr division — agreement,
    // not divergence; no guard needed (and AQE's empty-side short-circuit
    // means a broadcast-side raise could never fire reliably anyway)
    val noRaw = Seq((1L, "src0", "alpha beta")).toDF("doc_id", "source", "text")
    assert(operators.LlmQueries.dsirSelect(noRaw).collect().isEmpty)
  }

  test("q115 flags only cross-doc repeated shingles, by planted boilerplate") {
    import spark.implicits._
    // docs 1 and 2 share a verbatim 5-token footer (exactly one 5-gram —
    // the boundary-spanning shingles differ because the prefixes differ);
    // doc 3 is disjoint; doc 4 repeats a shingle INTRA-doc only (distinct
    // set => not boilerplate, q110's territory, must NOT be flagged here)
    val footer = "copyright footer all rights reserved"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon $footer"),
      (2L, s"zeta eta theta iota kappa $footer"),
      (3L, "one two three four five six seven"),
      (4L, "rep rep rep rep rep rep rep rep"))
      .toDF("doc_id", "text")
    val got = operators.LlmQueries.boilerplateScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 10 tokens -> 6 distinct 5-gram positions; only the footer shingle
    // repeats across docs
    assert(got(1L) == (6L, 1L) && got(2L) == (6L, 1L),
      s"planted footer shingle not flagged: $got")
    assert(got(3L) == (3L, 0L)) // 7 tokens -> 3 shingles, none shared
    // doc 4: 8 identical tokens -> ONE distinct shingle, in one doc only
    assert(got(4L) == (1L, 0L),
      s"intra-doc repetition must not count as cross-doc boilerplate: $got")
  }

  test("q115 fraction mode: the docfreq threshold scales with corpus size") {
    import spark.implicits._
    // a footer shared by exactly 3 docs; the rest of the corpus is
    // disjoint filler. Under fraction f the threshold is
    // max(2, ceil(f * nDocs)) — the SAME footer flips from boilerplate to
    // not-boilerplate purely because the corpus grew, which is the knob's
    // point: "boilerplate" means a fixed SHARE of the corpus, so chance
    // collisions fall back out of the frequent set at scale.
    val footer = "shared footer tokens here now"
    def corpus(nFiller: Int) = (
      Seq((1L, s"aa bb cc dd ee $footer"),
          (2L, s"ff gg hh ii jj $footer"),
          (3L, s"kk ll mm nn oo $footer")) ++
      (0 until nFiller).map(i =>
        (100L + i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f"))
      ).toDF("doc_id", "text")
    def boilerDocs(docs: org.apache.spark.sql.DataFrame) =
      operators.LlmQueries
        .boilerplateScrub(docs, minDocFreqFraction = Some(0.1))
        .where(col("n_boiler") > 0).count()
    // 27 filler docs -> 30 total -> threshold max(2, 3) = 3 -> flagged
    assert(boilerDocs(corpus(27)) == 3L,
      "df-3 footer must be boilerplate at threshold 3")
    // 57 filler docs -> 60 total -> threshold max(2, 6) = 6 -> NOT flagged
    assert(boilerDocs(corpus(57)) == 0L,
      "df-3 footer must fall out of the frequent set at threshold 6")
    // floor: a tiny corpus never drops the threshold below the absolute
    // minDocFreq (fraction 0.1 of 10 docs = 1 would flag EVERY shingle)
    assert(boilerDocs(corpus(7)) == 3L, "threshold floor broken")
  }

  test("round-14 planted corpora keep collision-free id blocks under ScaleData replication") {
    import spark.implicits._
    // r12's planted-id collision silently corrupted every sf>=1 q116
    // bench; pin the channel shut for the round-14 plant families
    // (funnelCorpus: +10000/+20000/+30001/+40000; mixedCorpus: +100000).
    // ScaleData's doc_id stride is 10^6, so every plant block must stay
    // inside its replica and never alias another family's block.
    val tmp = java.nio.file.Files.createTempDirectory("graft-plants").toString
    val langs = Seq("en", "de", "es", "fr")
    (0 until 100).map { i =>
      (i.toLong, (0 until 8).map(j => s"t$i-$j").mkString(" "),
        langs(i % 4), s"src${i % 4}")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val scaledDir = java.nio.file.Files.createTempDirectory("graft-plants-s").toString
    ScaleData.scaleTable(spark, tmp, "documents", 3)
      .write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")
    // funnel: base 300 + %7 plants 43 (10^6 ≡ 1 mod 7, so replica i
    // plants ids ≡ -i mod 7: 15+14+14) + %10 30 + %50 6 + %25 12 = 391.
    val funnel = operators.LlmQueries.funnelCorpus(spark, scaledDir)
    assert(funnel.count() == 391L, "funnel plant arithmetic drifted")
    assert(funnel.select("doc_id").distinct().count() == 391L,
      "funnel plant families collided under replication")
    // mixed: base 300 + replica-stable %5 plants (20 x 3) = 360.
    val mixed = operators.LlmQueries.mixedCorpus(spark, scaledDir)
    assert(mixed.count() == 360L, "mixed plant arithmetic drifted")
    assert(mixed.select("doc_id").distinct().count() == 360L,
      "mixed +100000 block collided under replication")
  }

  test("ScaleData plants fraction-level boilerplate that survives the q115 fraction threshold") {
    import spark.implicits._
    // VERDICT r13: the fraction-mode curve measured an EMPTY frequent set
    // at every scale — the production knob's non-empty join path was
    // never exercised with data. ScaleData now appends a fixed 6-token
    // footer to every 400th ORIGINAL doc of every replica; scale a
    // controlled fixture and pin that (a) exactly the footer's 2 interior
    // 5-grams survive a 0.1%-style fraction threshold, (b) the planted
    // docs are flagged by boilerplateScrub's fraction mode, clean docs
    // are not.
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale").toString
    // ids 0 and 400 plant (doc_id % 400 == 0); 48 disjoint-filler docs
    val src = ((0 until 50).map { i =>
      val id = if (i == 1) 400L else i.toLong
      (id, (0 until 8).map(j => s"w$i-$j").mkString(" "), "webcrawl")
    }).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    src.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val scaled = ScaleData.scaleTable(spark, tmp, "documents", 4)
    val nDocs = scaled.count()
    assert(nDocs == 200L)
    // 8 planted docs of 200 = 4% — far above the 0.1%-of-corpus bar the
    // production knob uses; with fraction 0.02 the threshold is
    // max(2, ceil(4)) = 4 < 8, so the footer survives while every filler
    // shingle (df <= factor = 4 only via identical replicas — but
    // replicas PERMUTE tokens, so filler shingles never repeat) is out
    val flagged = operators.LlmQueries
      .boilerplateScrub(scaled, minDocFreqFraction = Some(0.02))
      .where(col("n_boiler") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(flagged.length == 8, s"planted docs flagged: ${flagged.toSeq}")
    // every flagged doc is a replica of original id 0 or 400, and carries
    // exactly the footer's 2 interior 5-grams as boilerplate
    flagged.foreach { case (id, nBoiler) =>
      assert(id % 400L == 0L, s"non-planted doc $id flagged")
      assert(nBoiler == 2L, s"doc $id: expected the 2 footer shingles, got $nBoiler")
    }
  }

  test("q118 repetition audit: planted repetitive doc flagged, diverse doc clean, short doc skipped") {
    import spark.implicits._
    // "a b" × 5: bigrams = 9 occurrences (top "a b" × 5), 5-grams = 6
    // occurrences over 2 distinct → top2 5/9 = 555555 µ, dup5 4/6 =
    // 666666 µ — both over threshold
    val rep = (1L, ("a b " * 5).trim)
    // 20 distinct tokens: top bigram 1/19 = 52631 µ, dup5 0 µ — clean
    val clean = (2L, (1 to 20).map(i => s"t$i").mkString(" "))
    // 4 tokens: no 5-gram stream — excluded entirely
    val short = (3L, "x y z w")
    val docs = Seq(rep, clean, short).toDF("doc_id", "text")
    val got = operators.LlmQueries.repetitionAudit(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((9L, 5L, 555555L, 6L, 666666L, true)), s"rep: ${got(1L)}")
    assert(got(2L) == ((19L, 1L, 52631L, 16L, 0L, false)), s"clean: ${got(2L)}")
  }

  test("q118 multiset grams: repeated non-adjacent bigram counted with multiplicity") {
    import spark.implicits._
    // "u v" appears twice NON-adjacently (positions 1 and 4) — a
    // first-occurrence-distinct shingle set would count it once and
    // underflag; the multiset audit must see both
    val docs = Seq((7L, "u v w u v x y")).toDF("doc_id", "text")
    val r = operators.LlmQueries.repetitionAudit(docs).collect().head
    assert(r.getLong(1) == 6L)  // n2
    assert(r.getLong(2) == 2L)  // top2 = "u v" twice
  }

  test("q133 containment flags subsumption Jaccard misses; the docfreq cap kills boilerplate pairs") {
    import spark.implicits._
    // doc 2 (24 tokens) is a verbatim prefix of doc 1 (200 tokens):
    // containment 1.0 but Jaccard 20/196 ≈ 0.10 — invisible to the
    // near-dup family. 60 boilerplate docs share a 9-token template whose
    // 5 common shingles have docfreq 60 > BucketCap; WITHOUT the cap they
    // would emit C(60,2)=1770 pairs passing the threshold (inter=5 ≥
    // 0.8·6), so got.length==1 proves the cap, not the threshold, drops them.
    val big = (1 to 200).map(i => s"w$i").mkString(" ")
    val small = (1 to 24).map(i => s"w$i").mkString(" ")
    val boiler = (1 to 60).map(i =>
      (100L + i, (1 to 9).map(j => s"c$j").mkString(" ") + s" z$i"))
    val docs = (Seq((1L, big), (2L, small)) ++ boiler).toDF("doc_id", "text")
    val got = operators.LlmQueries.containmentDedup(docs).collect()
    assert(got.length == 1, s"expected only the subsumption pair, got ${got.length}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((196L, 20L, 20L)))
    assert(r.getLong(5) == 102040L)   // 20/196 of the big doc — sub-near-dup
    assert(r.getLong(6) == 1000000L)  // the small doc is fully contained
  }

  test("q134 pagerank: exact micro-unit arithmetic on a hand-computed path graph") {
    import spark.implicits._
    // path 1—2—3 plus isolated 4. Hand-iterated (floor division at every
    // step): pr1 = (575000, 1850000, 575000, 150000),
    // pr2 = (936250, 1127500, 936250, 150000),
    // pr3 = (629187, 1741625, 629187, 150000). The hub (node 2) ranks
    // highest; the isolated node stays at the 0.15 damping base.
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_id1", "doc_id2")
    val got = operators.LlmQueries.pagerank(nodes, pairs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, 629187L), (2L, 2L, 1741625L),
      (3L, 1L, 629187L), (4L, 0L, 150000L)))
  }

  test("q136 triangles: hand-computed counts and clustering coefficients " +
    "on a two-triangle graph with an isolated node") {
    import spark.implicits._
    // edges (1,2)(1,3)(2,3)(2,4)(3,4): triangles {1,2,3} and {2,3,4};
    // node 5 isolated. deg = (2,3,3,2,0); per-node triangle counts
    // (1,2,2,1,0); cc_micro = 2T·10⁶ div deg(deg−1):
    //  node1 2e6 div 2 = 1000000; node2 4e6 div 6 = 666666 (floor);
    //  node4 1000000; node5 deg<2 → 0.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_id1", "doc_id2")
    val got = operators.LlmQueries.triangleStats(nodes, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 1000000L), (2L, 3L, 2L, 666666L),
      (3L, 3L, 2L, 666666L), (4L, 2L, 1L, 1000000L),
      (5L, 0L, 0L, 0L)))
  }
}
