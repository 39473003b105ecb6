package graft

import org.apache.spark.sql.functions._

/** Embedding aggregation batch (VectorQueries): centroid grid shape and
  * quantization code ranges.
  */
class VectorSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** k-means corpus of two tight 4-dim clusters far apart in dim 0. */
  private val kmTwoClusters: Seq[(Long, Array[Float], Int)] =
    (0L until 40L).map { id =>
      val c = if (id % 2 == 0) 0.0f else 10.0f
      (id, Array.tabulate(4)(j =>
        c + (if (j == 0) (id % 5).toFloat * 0.01f else 0.0f)), 0)
    }

  /** k-means corpus of three 4-dim clusters 7 apart. */
  private val kmThreeClusters: Seq[(Long, Array[Float], Int)] =
    (0L until 60L).map { id =>
      val c = (id % 3).toDouble * 7.0
      (id, Array.tabulate(4)(j =>
        (c + (id % 7).toDouble * 0.013 * (j + 1)).toFloat), 0)
    }

  /** k-means corpus whose k = 3 seeds include two identical vectors
    * (ids 1 and 2), so seed 2's cluster is empty from the first pass.
    */
  private val kmEmptyCluster: Seq[(Long, Array[Float], Int)] = Seq(
    (1L, Array.fill(64)(0.5f), 0),
    (2L, Array.fill(64)(0.5f), 0),
    (3L, Array.fill(64)(0.4f), 0),
    (4L, Array.fill(64)(-0.5f), 0))

  test("q77 emits one centroid per (label, dim) and means stay in data range") {
    val df = run("q77_embed_centroids")
    val labels = df.select("label").distinct().count()
    assert(df.count() == labels * 64)
    val Array(lo, hi) = df.agg(min("centroid"), max("centroid")).head
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(lo > -1.0 && hi < 1.0)
  }

  test("q78 quantization codes span [-127, 127] and scale is positive") {
    val df = run("q78_embed_quantize")
    assert(df.where(col("scale") <= 0).count() == 0)
    // floor(x*127/scale) with |x| <= scale lands in [-127, 127]
    assert(df.where(col("qmin") < -127 || col("qmax") > 127).count() == 0)
    // at least one vector's max element IS the scale → code 127 reachable
    assert(df.where(col("qmax") === 127).count() > 0)
  }

  test("q89 probe-2 recall is at least q66 probe-1 recall vs brute force") {
    // structural, not empirical: q89 probes the HOME cell (q66's whole
    // candidate set) plus one foreign cell, so its pool is a superset and
    // a true top-5 member can only be displaced by another true top-5
    // member (anything scoring above a global top-5 item is itself top-5)
    // ground truth: brute-force cosine top-5 per query (q45 emits top-10)
    def pairs(name: String, maxRk: Int) =
      run(name).where(col("rk") <= maxRk)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs("q45_cosine_topk", 5)
    val probe1 = pairs("q66_ivf_topk", 5)
    val probe2 = pairs("q89_ivf_probe2", 5)
    val r1 = (probe1 intersect truth).size.toDouble / truth.size
    val r2 = (probe2 intersect truth).size.toDouble / truth.size
    assert(r2 >= r1, s"probe-2 recall $r2 < probe-1 recall $r1")
    // probe-2 must actually widen the candidate pool beyond the home cell
    assert(probe2.size >= probe1.size)
  }

  test("probe-p candidate sets grow monotonically: p=1 ⊆ p=2 ⊆ p=3, recall non-decreasing") {
    def cands(p: Int) =
      operators.VectorQueries.ivfCandidates(spark, sf, probes = p)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val Seq(c1, c2, c3) = Seq(1, 2, 3).map(cands)
    assert(c1.subsetOf(c2) && c2.subsetOf(c3),
      "probed cell sets must nest: each extra probe only ADDS candidates")
    assert(c1.size < c2.size && c2.size < c3.size,
      "each extra probe must actually reach a new cell at this SF")

    // recall@5 vs brute force is monotone because the pools nest
    val truth = SparkEntry.queries("q45_cosine_topk")(spark, sf)
      .where(col("rk") <= 5).select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(p: Int) = {
      val top = operators.VectorQueries.ivfTopK(spark, sf, probes = p)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (top intersect truth).size.toDouble / truth.size
    }
    val Seq(r1, r2, r3) = Seq(1, 2, 3).map(recall)
    assert(r1 <= r2 && r2 <= r3, s"recall not monotone: $r1, $r2, $r3")
  }

  test("q108 hyperplane-LSH recall covers q46's exact within-cell pairs") {
    // q46 is the exact (quadratic-in-cell) formulation; q108 is the scale
    // path. Both are deterministic on the fixture, so recall is a fixed
    // number — today 25/25. Assert ≥ 0.9 to pin the banding parameters
    // (128 planes, 8×16 bands): a parameter change that tanks recall on
    // the planted near-dups fails here, not at 100 TB.
    def pairSet(name: String) =
      run(name).select("vec_id1", "vec_id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("q46_ivf_neardup")
    val lsh = pairSet("q108_embed_lsh_neardup")
    assert(exact.nonEmpty, "fixture must plant near-dup pairs")
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"hyperplane-LSH recall $recall < 0.9 vs q46")
    // and every emitted pair is cosine-verified, never bucket-trusted
    assert(run("q108_embed_lsh_neardup").where(col("sim") < 0.9).count() == 0)
  }

  test("q46 anchor sampling: budget formula, fixture passthrough, planted-pair fate") {
    import operators.VectorQueries.{anchorSampleMod, anchorBase}
    // every correctness-fixture scale (n ≤ 4096) passes through unsampled —
    // the gate and the recall pin above always see the FULL anchor
    assert(Seq(0L, 500L, 2000L, 4096L, 8191L).map(anchorSampleMod(_)) ==
      Seq(1L, 1L, 1L, 1L, 1L))
    // bench scales bound the sample at ~4096 base ids: sf1/sf2/sf5
    // benchdata corpora (20k/40k/100k vectors) sample at 1/4, 1/9, 1/24
    assert(anchorSampleMod(8192L) == 2L)
    assert(anchorSampleMod(20000L) == 4L)
    assert(anchorSampleMod(40000L) == 9L)
    assert(anchorSampleMod(100000L) == 24L)
    // planted twins share their base id's sample fate: every +off twin's
    // original is present (structurally guaranteed because the hash keys
    // on the base id BEFORE planting — this pins the construction order).
    // The offset derives from the corpus (smallest power of 10 above
    // max(vec_id)) so it can never collide with real ids — at this
    // fixture (max vec_id 499) that is 1000; pin the formula.
    val off = operators.VectorQueries.variantOffset(spark, sf)
    assert(off == 1000L, s"fixture variant offset drifted: $off")
    val ids = anchorBase(spark, sf).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val planted = ids.filter(_ >= off)
    assert(planted.nonEmpty, "fixture must plant twins")
    assert(planted.forall(p => ids.contains(p - off)),
      "a planted twin survived sampling without its original")
  }

  test("q108 band width scales with corpus size: floor 16, log2 growth, cap 32") {
    import operators.VectorQueries.{hyperplaneBandBits, hyperplaneBands}
    // every correctness-fixture scale (≤ sf0.1, n ≤ 2205) stays on the
    // historical 8×16 banding; the bench scales re-band upward...
    assert(Seq(0L, 1L, 2205L, 16384L, 22050L, 44100L, 65536L)
      .map(hyperplaneBandBits) == Seq(16, 16, 16, 16, 17, 18, 18))
    // ...then bits ≈ ceil(log2 n)+2, capped where <4 bands would remain
    assert(hyperplaneBandBits(1L << 17) == 19)
    assert(hyperplaneBandBits(1L << 20) == 22)
    assert(hyperplaneBandBits(1L << 30) == 32)
    assert(hyperplaneBandBits(Long.MaxValue / 2) == 32)
    // EXACT powers of two are the rounding hazard: libm's
    // log(2^29)/log(2) = 29.000000000000004, so a float-ratio ceil
    // would pick width 31+... wrongly at n=2^29 while DuckDB's exact
    // log2 (now LENGTH(BIN(n-1)) on both sides) picks 31 — pin every
    // power of two in the active 16..32 window
    for (k <- 14 to 31)
      assert(hyperplaneBandBits(1L << k) ==
        math.max(16, math.min(32, k + 2)), s"k=$k")
    // the reshape really re-bands: at a width-18 corpus size each sig
    // yields floor(128/18)=7 bands, and two identical vectors still
    // share every bucket while orthogonal ones share none
    import spark.implicits._
    val sigs = Seq(
      (1L, "1" * 128), (2L, "1" * 128), (3L, "10" * 64))
      .toDF("vec_id", "sig")
    val b = hyperplaneBands(sigs, n = 44100L)
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == Map(1L -> 7L, 2L -> 7L, 3L -> 7L))
    val shared = hyperplaneBands(sigs, n = 44100L)
      .groupBy("bk64").agg(collect_set(col("vec_id")).as("ids"))
      .collect().map(_.getSeq[Long](1).toSet)
    assert(shared.count(_ == Set(1L, 2L)) == 7)
    assert(!shared.exists(s => s.contains(3L) && s.size > 1))
  }

  test("q116 resolves planted variant clusters to their original, keeps one per cluster") {
    val out = run("q116_semdedup_resolve").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // kept <=> the row IS its cluster's canonical, everywhere
    assert(out.forall { case (id, (can, kept)) => kept == (id == can) })
    // every planted variant resolved into its original's cluster: the
    // original id (< off) is always the cluster min, so variants are
    // never kept, and both variant arms of a %40 original share a cluster
    val off = operators.VectorQueries.variantOffset(spark, sf)
    val variants = out.keys.filter(_ >= off)
    assert(variants.nonEmpty, "corpus planted no variants — vacuous")
    variants.foreach { v =>
      val orig = v % off
      assert(out(v)._1 == out(orig)._1,
        s"variant $v landed in cluster ${out(v)._1}, original $orig in ${out(orig)._1}")
      assert(!out(v)._2, s"variant $v was kept over its original")
    }
    // %40 originals have TWO variants -> at least one 3-member cluster
    val threeClusters = out.groupBy(_._2._1).filter(_._2.size >= 3)
    assert(threeClusters.nonEmpty, "no multi-variant cluster formed")
  }

  test("q117 keeps the highest-quality cluster member, not the min id") {
    import spark.implicits._
    // controlled corpus: vectors 1 and 2 are parallel (cosine = 1.0 — a
    // guaranteed LSH near-dup pair) but 2 is SCALED UP, so its L2 norm —
    // the quality score — is strictly higher; vec 7 is orthogonal noise.
    // q116's min-id policy would keep 1; the argmax must keep 2.
    val base = Seq(
      (1L, Array.fill(64)(0.5)),
      (2L, Array.fill(64)(0.6)),
      (7L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5 else -0.5)))
      .toDF("vec_id", "v")
      .selectExpr("vec_id", "v",
        "sqrt(graft_vector_dot(v, v)) AS nrm")
    val out = operators.VectorQueries.semDedupKeepBest(base).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // cluster {1,2}: canonical (min label) is 1, but keep_id is 2 — the
    // higher-norm member; quality = floor(sqrt(64·0.36)·1e6)
    assert(out.contains(1L), s"pair cluster missing: $out")
    val (keepId, maxQ, nMembers) = out(1L)
    assert(keepId == 2L, s"argmax must override min-id: kept $keepId")
    assert(nMembers == 2L)
    assert(maxQ == math.floor(math.sqrt(64 * 0.36) * 1e6).toLong)
    // singleton cluster keeps itself
    assert(out(7L) == ((7L, math.floor(math.sqrt(64 * 0.25) * 1e6).toLong, 1L)))
  }

  test("q117 fixture clusters agree with q116's membership, argmax within") {
    // same corpus, same edges, same closure — only the keep policy
    // differs: q117's (cluster_id, n_members) must be reconstructible
    // from q116's (canonical, member-count) table, and every keep_id must
    // be a member of its own cluster per q116
    val cc = run("q116_semdedup_resolve").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap      // vec_id -> canonical
    val members = cc.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    val kb = run("q117_semdedup_keep_best").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(kb.map(_._1).toSet == members.keySet,
      "q117 cluster ids differ from q116 canonicals")
    kb.foreach { case (cid, keepId, n) =>
      assert(members(cid).contains(keepId), s"keep_id $keepId not in cluster $cid")
      assert(members(cid).size.toLong == n, s"member count mismatch for $cid")
    }
  }

  test("q119 k-means step: hash-deterministic seeds, exact assignment and means on a controlled corpus") {
    import spark.implicits._
    // two tight clusters far apart in dim 0; k = 2 seeds land one per
    // cluster with overwhelming likelihood — but the spec does not rely
    // on that: it recomputes the SAME seed rule and brute-force
    // assignment driver-side and compares exactly
    val dim = 4
    val vecs = kmTwoClusters
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val got = operators.VectorQueries.kmeansStep(emb, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    // driver-side replica: same md5 seed rule, same dist² tie-break
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val seedIds = vecs.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(2)
    val byId = vecs.map(v => v._1 -> v._2.map(_.toDouble)).toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def assign(v: Seq[Double]): Long =
      seedIds.map { cid =>
        val cv = byId(cid)
        val d2 = BigDecimal(dot(v, v) - 2 * dot(v, cv) + dot(cv, cv))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (d2, cid)
      }.min._2
    val members = vecs.map(v => assign(byId(v._1)) -> v._1)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keys.map(_._1).toSet == members.keySet)
    for ((cid, ids) <- members; j <- 0 until dim) {
      // replicate the kernel's arithmetic exactly: per-element
      // DECIMAL(18,9) HALF_UP, exact decimal sum, DOUBLE divide, round 6
      val sumDec = ids.map(id => BigDecimal(byId(id)(j))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
      val want = BigDecimal(sumDec.toDouble / ids.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (centroid, n) = got((cid, j))
      assert(n == ids.size, s"cluster $cid size")
      assert(centroid == want, s"cluster $cid dim $j: got $centroid want $want")
    }
  }

  test("q119 fixture run: k clusters cover the corpus, one row per (cluster, dim)") {
    val out = operators.VectorQueries
      .kmeansStep(Tables.t(spark, "/root/testdata/sf0.001", "embeddings"))
      .collect()
    val n = Tables.t(spark, "/root/testdata/sf0.001", "embeddings").count()
    val clusters = out.map(_.getLong(0)).distinct
    assert(out.length == clusters.length * 64)
    // every vector assigned exactly once: per-dim totals equal the corpus
    val perDim = out.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(perDim.values.toSet == Set(n))
  }

  test("q120 iterated k-means: three driver-replicated Lloyd passes agree exactly") {
    import spark.implicits._
    val dim = 4
    val vecs = kmThreeClusters
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val got = operators.VectorQueries.kmeansIterate(emb, k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    // driver replica of seeds, rounded-distance assignment, decimal mean,
    // and the 6-dp centroid round-trip between passes
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byId = vecs.map(v => v._1 -> v._2.map(_.toDouble).toSeq).toMap
    var cents: Seq[(Long, Seq[Double])] = vecs.map(_._1)
      .sortBy(id => (md5hex(id.toString), id)).take(3).map(id => id -> byId(id))
    var want: Map[(Long, Int), (Double, Long)] = null
    for (_ <- 1 to 3) {
      val members = vecs.map { v =>
        val vv = byId(v._1)
        val cid = cents.map { case (cid, cv) =>
          (r6(dot(vv, vv) - 2 * dot(vv, cv) + dot(cv, cv)), cid)
        }.min._2
        cid -> v._1
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      want = (for ((cid, ids) <- members.toSeq; j <- 0 until dim) yield {
        val sumDec = ids.map(id => BigDecimal(byId(id)(j))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
        (cid, j) -> ((r6(sumDec.toDouble / ids.size), ids.size.toLong))
      }).toMap
      cents = members.keys.toSeq.sorted.map(cid =>
        cid -> (0 until dim).map(j => want((cid, j))._1))
    }
    assert(got == want)
  }

  test("q122 embedding outliers: planted far vector flagged, tight cluster clean") {
    import spark.implicits._
    // label 0: 40 tight vectors + ONE far outlier; label 1: uniform ring
    // (no point beyond mean + 2 sigma) — the fence must flag exactly the plant
    val vecs =
      (0L until 40L).map(id => (id, Array.tabulate(4)(j =>
        ((id % 5).toDouble * 0.01 + j * 0.001).toFloat), 0)) ++
      Seq((99L, Array.tabulate(4)(_ => 50.0f), 0)) ++
      (100L until 120L).map(id => (id, Array.tabulate(4)(j =>
        (if ((id + j) % 2 == 0) 1.0f else -1.0f)), 1))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val got = operators.VectorQueries.embedOutliers(emb)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    val (n0, mean0, sd0, out0, max0) = got(0)
    assert(n0 == 41L && out0 == 1L, s"label 0: n=$n0 outliers=$out0")
    assert(max0 > mean0 + 2 * sd0, "plant must sit beyond the fence")
    val (n1, _, _, out1, _) = got(1)
    assert(n1 == 20L && out1 == 0L, s"label 1: n=$n1 outliers=$out1")
  }

  test("k-means empty-cluster contract: a duplicate-seed cell empties and drops out of later passes") {
    import spark.implicits._
    // ids 1 and 2 are IDENTICAL vectors; md5 seed order over {1,2,3,4} is
    // 4 < 1 < 2 < 3, so k=3 picks seeds {4, 1, 2} — and because seed 2's
    // vector equals seed 1's, every member of that point ties at d²=0 and
    // the lower c_id (1) wins: cluster 2 is EMPTY from pass 1. The
    // documented contract is that an empty cluster simply has no mean row
    // and drops out of later passes; pin that for one step AND a full
    // 3-pass iteration (k and iters are the exposed knobs).
    val emb = kmEmptyCluster.toDF("vec_id", "embedding", "label")
    for (iters <- Seq(1, 3)) {
      val rows = operators.VectorQueries.kmeansIterate(emb, k = 3, iters = iters)
        .collect()
      val clusters = rows.map(_.getLong(0)).toSet
      assert(!clusters.contains(2L),
        s"iters=$iters: the emptied seed-2 cluster must have no mean rows, got $clusters")
      assert(clusters == Set(1L, 4L), s"iters=$iters: surviving clusters $clusters")
      // membership stays (1,2,3) -> cluster 1, (4) -> cluster 4 at every
      // pass: means only tighten around the same split
      val n = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(n == Map(1L -> 3L, 4L -> 1L), s"iters=$iters: member counts $n")
    }
  }

  /** Runs `f` and returns its result with the number of Spark jobs it
    * started: jobs are counted by job group, and a marker job in a second
    * group closes the count once the async listener bus has delivered it.
    */
  private def jobsOf[R](f: => R): (R, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => closed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val r = f
      sc.setJobGroup(s"$group-end", "count marker")
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener marker")
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def kmRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq

  /** Pins the k-means size dispatch to its distributed loop on `emb`:
    * identical centroids from [[operators.VectorQueries.kmeansCentroids]]
    * and `kmeansCentroidsLoop`, identical (cluster, dim, centroid,
    * n_vectors) and schema from `kmeansIterate` and `kmeansIterateLoop`,
    * at iters 1 and 3. Returns the jobs the dispatcher's `kmeansIterate`
    * runs per call, result collected, for the caller to say which path
    * it took.
    */
  private def kmPathsAgree(what: String, emb: org.apache.spark.sql.DataFrame,
      k: Int): Seq[Int] = {
    val vq = operators.VectorQueries
    val base = emb.selectExpr("vec_id",
      "transform(embedding, x -> CAST(x AS double)) AS v")
    for (iters <- Seq(1, 3)) yield {
      assert(vq.kmeansCentroids(base, _ => k, iters) == vq.kmeansCentroidsLoop(base, k, iters),
        s"$what, iters=$iters: centroids")
      val (dispatched, jobs) = jobsOf {
        val df = vq.kmeansIterate(emb, k, iters)
        (df.schema, kmRows(df))
      }
      val loop = vq.kmeansIterateLoop(emb, k, iters)
      assert(dispatched._1 == loop.schema, s"$what, iters=$iters: schema")
      assert(dispatched._2 == kmRows(loop), s"$what, iters=$iters: final means")
      assert(dispatched._2.nonEmpty, s"$what, iters=$iters: no means")
      jobs
    }
  }

  /** A seeded pseudo-random 64-dim float corpus of `n` vectors in one
    * partition, read through a Spark job (not a local relation).
    */
  private def kmRandom(n: Int, seed: Long) =
    spark.range(0, n, 1, 1).selectExpr("id AS vec_id", "CAST(0 AS INT) AS label",
      s"""transform(sequence(0, 63), j -> CAST(
         |  (xxhash64(id, j, ${seed}L) % 2000000) / 2000000.0D AS FLOAT)) AS embedding"""
        .stripMargin)

  test("k-means driver finish and distributed loop give identical centroids and means") {
    import spark.implicits._
    // local corpora fetch without a job, so the driver finish runs none
    // at all here; the loop runs several per call
    def local(what: String, vecs: Seq[(Long, Array[Float], Int)], k: Int): Unit = {
      val jobs = kmPathsAgree(what, vecs.toDF("vec_id", "embedding", "label"), k)
      assert(jobs.forall(_ == 0), s"$what: the driver finish ran jobs $jobs")
    }
    local("two clusters", kmTwoClusters, k = 2)
    local("three clusters", kmThreeClusters, k = 3)
    local("empty cluster", kmEmptyCluster, k = 3)
    // widths 0..6: ragged centroids, and posexplode's per-dim counts
    local("ragged", (0L until 48L).map { id =>
      (id, Array.tabulate((id % 7).toInt)(j =>
        ((id % 4) * 3 + j * 0.25 + id * 0.001).toFloat), 0)
    }, k = 4)
    for (k <- Seq(8, 73)) {
      val jobs = kmPathsAgree(s"random k=$k", kmRandom(500, 11), k)
      assert(jobs.forall(_ == 1), s"random k=$k: jobs per driver-finish call $jobs")
    }
  }

  test("k-means null vectors join no cluster on either path; a null element sends the call to the loop") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def md5hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString
    val vecs = kmThreeClusters.map { case (id, v, _) => id -> v.toSeq }
    // the null vector takes the id that sorts last by md5, so it is no seed
    val nullId = vecs.map(_._1).maxBy(md5hex)
    def corpus(nullElementAt: Option[Long]) = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map { case (id, v) =>
        if (id == nullId) Row(id, null)
        else if (nullElementAt.contains(id)) Row(id, v.updated(2, null))
        else Row(id, v)
      }: _*), schema)
    val onlyNullVector = kmPathsAgree("null vector", corpus(None), k = 3)
    assert(onlyNullVector.forall(_ == 0), s"null vector: driver finish expected $onlyNullVector")
    val nullElement = kmPathsAgree("null vector and element",
      corpus(Some(vecs.map(_._1).filter(_ != nullId).head)), k = 3)
    assert(nullElement.forall(_ > 1), s"null element: the loop expected, ran $nullElement jobs")
  }

  test("k-means seeds skip null vectors: a null vector that sorts md5-first is no seed on either path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    // md5("4") sorts before md5("1") < md5("2") < md5("3")
    val emb = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Seq(0.0f, 0.0f)), Row(2L, Seq(10.0f, 10.0f)),
      Row(3L, Seq(0.5f, 0.5f)), Row(4L, null)), schema)
    val jobs = kmPathsAgree("null md5-first vector", emb, k = 2)
    assert(jobs.forall(_ == 0), s"null md5-first vector: driver finish expected $jobs")
    val base = emb.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
    assert(operators.VectorQueries.kmeansCentroids(base, _ => 2, 1) ==
      Seq(1L -> Seq(0.0, 0.0), 2L -> Seq(10.0, 10.0)))
  }

  test("k-means driver finish runs exactly one Spark job per call") {
    val emb = kmRandom(500, 23)
    val base = emb.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
    val vq = operators.VectorQueries
    assert(jobsOf(vq.kmeansIterate(emb, 8, 3).collect())._2 == 1)
    assert(jobsOf(vq.kmeansCentroids(base, _ => 8, 3))._2 == 1)
    // the loop's seed fetch and two mean updates are jobs of their own
    assert(jobsOf(vq.kmeansCentroidsLoop(base, 8, 3))._2 >= 3)
  }

  test("q123 under the driver cap takes its corpus-derived k from the fetch, not a count job") {
    val vq = operators.VectorQueries
    val base = kmRandom(500, 29).selectExpr("vec_id",
      "transform(embedding, x -> CAST(x AS double)) AS v")
      .selectExpr("vec_id", "v", "sqrt(graft_vector_dot(v, v)) AS nrm")
    val (rows, jobs) = jobsOf(vq.kmeansSemDedup(base).collect())
    assert(rows.nonEmpty)
    // the corpus fetch and the CC edge-list fetch, two broadcasts, two
    // shuffle stages, the CC expand's and the keep aggregate's
    // truncations, and the collect; a count to derive k would be a tenth
    assert(jobs == 9, s"q123 over 500 vectors ran $jobs jobs")
  }

  test("q123 keeps the highest-quality member of each within-cell semantic group") {
    import spark.implicits._
    // nine vectors derive k = 8, and vector 2 has the largest md5 of the
    // nine ids, so the seeds are the other eight. Vector 2 (parallel to 1,
    // scaled up — cosine 1.0, higher norm) joins seed 1's cell; the other
    // seven are distinct ±0.5 Walsh rows, orthogonal to each other and to
    // 1, each alone in its cell (7 is the alternating row). The
    // within-cell pair (1,2) must close into one group whose keeper is 2
    // — the argmax-quality member, not the min id.
    val walsh = Seq(4L, 6L, 7L, 9L, 11L, 12L, 13L).zip(Seq(2, 3, 1, 4, 5, 6, 7))
      .map { case (id, row) =>
        (id, Array.tabulate(64)(i => if (Integer.bitCount(i & row) % 2 == 0) 0.5 else -0.5))
      }
    val base = (Seq((1L, Array.fill(64)(0.5)), (2L, Array.fill(64)(0.6))) ++ walsh)
      .toDF("vec_id", "v")
      .selectExpr("vec_id", "v", "sqrt(graft_vector_dot(v, v)) AS nrm")
    assert(operators.VectorQueries.semDedupK(9) == 8)
    val out = operators.VectorQueries.kmeansSemDedup(base, iters = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.keySet == Set(1L, 4L, 6L, 7L, 9L, 11L, 12L, 13L), s"clusters: ${out.keySet}")
    val (km1, keep1, q1, n1) = out(1L)
    assert(keep1 == 2L, s"argmax must override min-id: kept $keep1")
    assert(n1 == 2L && km1 == 1L)
    assert(q1 == math.floor(math.sqrt(64 * 0.36) * 1e6).toLong)
    val (km7, keep7, _, n7) = out(7L)
    assert(keep7 == 7L && n7 == 1L && km7 == 7L)
  }

  test("q128 picks lowest-cosine positive / highest-cosine negative, ties to min id") {
    import spark.implicits._
    val emb = Seq(
      (0L, 0, Seq(1.0, 0.0)),  // anchor
      (1L, 2, Seq(1.0, 1.0)),  // anchor with NO same-label peer → dropped
      (10L, 0, Seq(0.0, 1.0)), // positive, sim 0.0 (tie with 15)
      (11L, 0, Seq(1.0, 0.0)), // positive, sim 1.0 — easy, must lose to 10
      (12L, 1, Seq(1.0, 0.0)), // negative, sim 1.0 (tie with 14)
      (13L, 1, Seq(0.6, 0.8)), // negative, sim 0.6
      (14L, 1, Seq(1.0, 0.0)), // negative, sim 1.0 — larger id, must lose
      (15L, 0, Seq(0.0, 1.0))  // positive, sim 0.0 — larger id, must lose
    ).toDF("vec_id", "label", "v")
    val got = operators.VectorQueries.hardTriplets(emb).collect()
    assert(got.length == 1, s"anchor 1 has no positive and must drop: ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == 10L && r.getDouble(2) == 0.0,
      s"hard positive must be min-sim with min-id tie-break: $r")
    assert(r.getLong(3) == 12L && r.getDouble(4) == 1.0,
      s"hard negative must be max-sim with min-id tie-break: $r")
  }

  test("q135 silhouette: hand-computed a/b/s on two tight clusters, " +
    "boundary threshold and decimal-routed means") {
    import spark.implicits._
    // md5 seed order of ids 1..4 is (4, 1, 2, 3), so k = 2 seeds are
    // id 4 (group B) and id 1 (group A) — one per group. After 2 mean
    // updates the centroids are exactly (10.1, 0) for cluster 1 and
    // (0, 0.1) for cluster 4 (6-dp rounding absorbs the float noise).
    // Hand-rounded distances/silhouettes:
    //  id1 (10,0):    a=0.01  b=100.01    s=100.0/100.01      → 0.9999
    //  id2 (10.2,0):  a=0.01  b=104.049996 s=104.039996/104.049996 → 0.999904
    //  id3 (0,0):     a=0.01  b=102.01    s=102.0/102.01      → 0.999902
    //  id4 (0,0.2):   a=0.01  b=102.05    s=102.04/102.05     → 0.999902
    val emb = Seq(
      (1L, Seq(10.0f, 0.0f)),
      (2L, Seq(10.2f, 0.0f)),
      (3L, Seq(0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val got = operators.VectorQueries.kmeansSilhouette(emb, k = 2, iters = 3)
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got.keySet == Set(1L, 4L), s"cluster ids must be seed ids: $got")
    assert(got(1L) == ((2L, 0.999902, 0.9999, 0L)), s"cluster 1: ${got(1L)}")
    assert(got(4L) == ((2L, 0.999902, 0.999902, 0L)), s"cluster 4: ${got(4L)}")
  }

  test("q135 silhouette: an equidistant point scores s = 0 and counts as boundary") {
    import spark.implicits._
    // k = 2, iters = 1 → centroids stay the two md5-first seeds. Seeds
    // of ids (1, 2, 3) are ids 1 and 2 (md5 order 1 < 2 < 3): (0,0) and
    // (4,0). id 3 at (2,0) is equidistant (a = b = 4.0 → s = 0, tied
    // assignment breaks to the smaller c_id 1); the seeds themselves
    // have a = 0 → s = 1. Cluster 1 holds ids {1, 3}: mean = 0.5,
    // min = 0.0, one boundary point. Cluster 2 holds id 2 alone.
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(4.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = operators.VectorQueries.kmeansSilhouette(emb, k = 2, iters = 1)
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got(1L) == ((2L, 0.5, 0.0, 1L)), s"cluster 1: ${got(1L)}")
    assert(got(2L) == ((1L, 1.0, 1.0, 0L)), s"cluster 2: ${got(2L)}")
  }

  test("q148 recall curve: monotone in probes, bounded, and probe-3 " +
    "strictly beats probe-1 on the fixture") {
    val rows = operators.VectorQueries.ivfRecallCurve(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(rows.keySet == Set(1, 2, 3), s"three probe arms: $rows")
    // probe sets nest, so matched counts can only grow with probes
    assert(rows(1)._2 <= rows(2)._2 && rows(2)._2 <= rows(3)._2,
      s"recall must be monotone in probes: $rows")
    assert(rows(3)._2 > rows(1)._2,
      s"extra cells must add recall on the fixture: $rows")
    assert(rows.values.forall(v => v._1 == 10 && v._4 >= 0 && v._4 <= 1000000),
      s"10 anchors, micro-unit recall: $rows")
  }

  test("q140 JL audit matches an independent reimplementation of the " +
    "documented sign-matrix / anchor / bound contract") {
    import spark.implicits._
    val (d, k, nAnchors) = (64, 16, 4)
    // the documented contracts, re-derived independently of the engine:
    // sign(j)(i) = low bit of md5("j:i")[0]; anchors from the Weyl-style
    // integer recurrence; everything else plain Long arithmetic
    def sign(j: Int, i: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1L else -1L
    }
    def anchorQ(a: Int, i: Int): Long =
      ((a.toLong * 1000003L + i.toLong * 7919L + 12345L) * 2654435761L)
        .abs % 2000001L - 1000000L
    def ratio(d2p: Long, d2o: Long): Long =
      if (d2o == 0) 1000000L
      else math.floor(d2p.toDouble / d2o.toDouble / 16.0 * 1000000.0).toLong
    def within(d2p: Long, d2o: Long): Long =
      if (d2o == 0 || 2 * math.abs(d2p - 16 * d2o) <= 16 * d2o) 1L else 0L
    def audit(v: Seq[Float]): Seq[(Int, Long, Long)] = {
      val q = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
      val p = (0 until k).map(j => (0 until d).map(i => q(i) * sign(j, i)).sum)
      (0 until nAnchors).map { a =>
        val d2o = (0 until d).map { i => val t = q(i) - anchorQ(a, i); t * t }.sum
        val pa = (0 until k).map(j =>
          (0 until d).map(i => anchorQ(a, i) * sign(j, i)).sum)
        val d2p = (0 until k).map { j => val t = p(j) - pa(j); t * t }.sum
        (a, d2o, d2p)
      }
    }
    val vecs = Seq(
      (7L, (0 until d).map(i => ((i * 37 % 201) - 100) / 100.0f), 1),
      (8L, (0 until d).map(i => ((i * 53 % 201) - 100) / 100.0f), 1),
      (9L, (0 until d).map(_ => 0.0f), 2))
    val expected = vecs.groupBy(_._3).flatMap { case (label, vs) =>
      val per = vs.map(v => audit(v._2))
      (0 until nAnchors).map { a =>
        val rows = per.map(_(a))
        (label, a) -> ((rows.size.toLong,
          rows.map(r => within(r._3, r._2)).sum,
          rows.map(r => ratio(r._3, r._2)).min,
          rows.map(r => ratio(r._3, r._2)).max))
      }
    }
    val got = operators.VectorQueries.jlProjectionAudit(
        vecs.toDF("vec_id", "embedding", "label"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == expected, s"got $got\nexpected $expected")
  }
}
