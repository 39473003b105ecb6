package graft

import graft.kpl.KplCodec
import graft.plans.ZlibOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets

/** Native-expression suite: correctness against reference formulations
  * (KplCodec, Spark's own sketch library, independent text-hash and
  * decimal forms) and the codegen/fold properties that motivate the
  * expression form. The functions come from [[Tables.session]].
  */
class GraftExpressionsSpec extends SparkSpec {

  private def b(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def df(rows: Seq[Array[Byte]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("data", BinaryType))))

  test("graft_is_kpl matches KplCodec semantics incl. null") {
    val rows = Seq(b("plain"), KplCodec.Magic ++ b("x"), null)
    val out = df(rows).selectExpr("graft_is_kpl(data) AS agg")
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(out.toSeq == Seq(false, true, null))
  }

  test("expressions stay inside whole-stage codegen (no ScalaUDF node)") {
    val plan = df(Seq(b("x")))
      .selectExpr("graft_is_kpl(data)")
      .queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("ScalaUDF"), s)
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(s.contains("*(1) Project"), s)
  }

  test("literal input constant-folds at plan time") {
    val optimized = spark.sql("SELECT graft_is_kpl(X'F3899AC2AB') AS v")
      .queryExecution.optimizedPlan
    // after constant folding the expression is gone, only the literal remains
    assert(!optimized.toString.contains("graft_is_kpl"), optimized.toString)
  }

  // the name's graft_cms_estimate computed Spark's estimateCount(String),
  // so the probe is checked against that directly
  test("CmsProbe (broadcast handle) is bit-identical to graft_cms_estimate and codegens") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.999, 42)
    cms.addString("alpha beta", 7); cms.addString("gamma", 3)
    val in = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("alpha beta"), Row("gamma"), Row("zeta"), Row(null)), 2),
      StructType(Seq(StructField("s", StringType))))
    val probed = in.select(
      ColumnBridge.column(graft.plans.CmsProbe(spark.sparkContext.broadcast(cms),
        ColumnBridge.expression(col("s")))).as("est"))
    val out = probed.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out.toSeq == Seq(
      cms.estimateCount("alpha beta"), cms.estimateCount("gamma"),
      cms.estimateCount("zeta"), null))
    assert(out(0) == 7L && out(1) == 3L, "CMS est >= exact and exact here (no collisions at this width)")
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  // the name's graft_bloom_contains computed Spark's mightContainString,
  // so the probe is checked against that directly
  test("BloomProbe (broadcast handle) is bit-identical to graft_bloom_contains and codegens") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq("alpha beta", "gamma delta").foreach(bf.putString)
    val in = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("alpha beta"), Row("gamma delta"), Row("epsilon"), Row(null)), 2),
      StructType(Seq(StructField("s", StringType))))
    val probed = in.select(
      ColumnBridge.column(graft.plans.BloomProbe(spark.sparkContext.broadcast(bf),
        ColumnBridge.expression(col("s")))).as("hit"))
    val out = probed.collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    // one-sided: members MUST hit; the non-member check also validates the
    // probe hashes match putString (a hash mismatch would randomize hits)
    assert(out.toSeq == Seq(true, true, bf.mightContainString("epsilon"), null))
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  test("BloomProbe over BIGINT probes mightContainLong") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(42L, 7L).foreach(bf.putLong)
    val in = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(42L), Row(7L), Row(999L)), 2),
      StructType(Seq(StructField("h", LongType))))
    val out = in.select(
      ColumnBridge.column(graft.plans.BloomProbe(
        spark.sparkContext.broadcast(bf),
        ColumnBridge.expression(col("h")))).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(out(0) && out(1))
    assert(out(2) == bf.mightContainLong(999L))
  }

  test("graft_vector_dot equals the left-fold dot product, bit-exact") {
    val df = spark.sql(
      "SELECT graft_vector_dot(array(1.5D, -2.0D, 0.25D), array(4.0D, 0.5D, 8.0D)) AS d, " +
        "graft_vector_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) IS NULL AS n")
    val row = df.collect().head
    assert(row.getDouble(0) == 1.5 * 4.0 + -2.0 * 0.5 + 0.25 * 8.0)
    assert(row.getBoolean(1), "null array input must yield null")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  // ---- reference formulations for the text-hash kernels, written the
  // straightforward way (per-call digest, string mins) so the property
  // tests are independent of the optimized thread-local/long-lane kernels

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(x => f"$x%02x").mkString

  private def refShingles(text: String, n: Int): Seq[String] =
    text.split(" ", -1).toSeq.sliding(n).filter(_.length == n)
      .map(_.mkString(" ")).toSeq.distinct

  // independent BigInt formulation of the single-hash + linear-permutation
  // family — no Mersenne folding, so it cross-validates the kernel's
  // 128-bit fold arithmetic, not just its tokenization
  private def refMinhash16(text: String): Seq[Any] = {
    val P = BigInt(2).pow(61) - 1
    val sh = text.split(" ", -1).toSeq.sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSeq
    val hs = sh.map(s => BigInt(md5hex(s).take(16), 16) mod P)
    (0 until 16).map { i =>
      if (hs.isEmpty) null
      else {
        val a = BigInt(graft.functions.TextHash.MinHashA(i))
        val b = BigInt(graft.functions.TextHash.MinHashB(i))
        hs.map(h => ((a * h + b) mod P).toLong).min
      }
    }
  }

  private def refSimhash64(text: String): String = {
    val counts = new Array[Int](64)
    text.split(" ", -1).foreach { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes(StandardCharsets.UTF_8))
      var b = 0
      while (b < 64) {
        if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) counts(b) += 1
        else counts(b) -= 1
        b += 1
      }
    }
    counts.map(c => if (c >= 0) '1' else '0').mkString
  }

  test("text-hash kernels match reference formulations on random inputs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tokens include empties (double/trailing spaces) and multi-byte UTF-8
    val token = Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(5)),
      Gen.const(""), Gen.const("déjà"), Gen.const("数据"), Gen.const("a"))
    val text = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, token)).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(30, text)) { texts =>
      val rows = spark.createDataFrame(
        spark.sparkContext.parallelize(
          texts.zipWithIndex.map { case (t, i) => Row(i, t) }, 2),
        StructType(Seq(StructField("i", IntegerType), StructField("text", StringType))))
      val out = rows.selectExpr("i", "graft_shingles(text, 3) AS s3",
        "graft_shingles(text, 5) AS s5", "graft_minhash16(text) AS mh",
        "graft_simhash64(text) AS sim")
        .collect().map(r => r.getInt(0) -> r).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val r = out(i)
        r.getSeq[String](1) == refShingles(t, 3) &&
          r.getSeq[String](2) == refShingles(t, 5) &&
          r.getSeq[Any](3) == refMinhash16(t) &&
          r.getString(4) == refSimhash64(t)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("ZlibOps static kernel equals the UDF kernel") {
    val payload = Array.tabulate(512)(i => (i * 7).toByte)
    val deflated = {
      val buf = new java.io.ByteArrayOutputStream()
      val dos = new java.util.zip.DeflaterOutputStream(buf)
      dos.write(payload); dos.close(); buf.toByteArray
    }
    assert(ZlibOps.inflateOrRaw(deflated).toSeq == payload.toSeq)
    assert(ZlibOps.inflateOrRaw(payload).toSeq == payload.toSeq) // not zlib → raw
  }

  test("ZlibOps pooled kernels: precheck edges, corrupt streams, reuse") {
    val payload = Array.tabulate(512)(i => (i * 7).toByte)
    val deflated = ZlibOps.deflate(payload)
    // pooled deflate round-trips through pooled inflate
    assert(ZlibOps.inflateOrRaw(deflated).toSeq == payload.toSeq)
    // the RFC1950 precheck accepts every stream the Inflater accepts
    assert(ZlibOps.looksZlib(deflated))
    // empty / 1-byte inputs: raw, no exception
    assert(ZlibOps.inflateOrRaw(Array.empty[Byte]).isEmpty)
    assert(ZlibOps.inflateOrRaw(Array[Byte](0x78)).toSeq == Seq[Byte](0x78))
    // valid header, corrupt body → raw (the try/catch path still runs)
    val corrupt = deflated.clone()
    corrupt(4) = (corrupt(4) ^ 0x5a).toByte
    val back = ZlibOps.inflateOrRaw(corrupt)
    assert(back.toSeq == corrupt.toSeq || back.toSeq == payload.toSeq) // raw or (unluckily) still-decodable
    // truncated stream with valid header → raw
    val trunc = deflated.take(4)
    assert(ZlibOps.looksZlib(trunc))
    assert(ZlibOps.inflateOrRaw(trunc).toSeq == trunc.toSeq)
    // 'P:'-prefixed text (the q31 passthrough column) fails the precheck:
    // 'P' = 0x50, CM = 0 ≠ 8
    val pref = ("P:" + "hello world").getBytes("UTF-8")
    assert(!ZlibOps.looksZlib(pref))
    assert(ZlibOps.inflateOrRaw(pref).toSeq == pref.toSeq)
    // a failed inflate must not poison the thread's pooled Inflater
    assert(ZlibOps.inflateOrRaw(deflated).toSeq == payload.toSeq)
    // and the pooled Deflater stays reusable after many calls
    (1 to 100).foreach { i =>
      val p = Array.tabulate(64 + i)(j => (j * i).toByte)
      assert(ZlibOps.inflateOrRaw(ZlibOps.deflate(p)).toSeq == p.toSeq)
    }
  }

  test("graft_gram_stats: one-pass gram statistics, empty-token fidelity, null for short docs") {
    import spark.implicits._
    // doubled space => an EMPTY token, a real token on both engines'
    // split semantics; the kernel must count it like any other
    val rows = Seq(
      (1L, "a b a b a b a b a b"),          // "a b" x5 in 9 bigrams
      (2L, "u v  u v w"),                   // tokens: u,v,"",u,v,w (6)
      (3L, "x y z w"),                      // 4 tokens -> null
      (4L, (1 to 30).map(i => s"t$i").mkString(" ")))
    val got = rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "graft_gram_stats(text) AS gs")
      .selectExpr("doc_id", "gs.n2", "gs.top2", "gs.n5", "gs.d5")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((9L, 5L, 6L, 2L)))
    // doc 2 bigrams: "u v","v ",""+"u"... : ("u","v"),("v",""),("","u"),("u","v"),("v","w")
    // -> n2=5, top2=2 ("u v" twice); 5-grams: 2 occurrences, both distinct
    assert(got(2L) == ((5L, 2L, 2L, 2L)))
    assert(got(3L) == null)
    assert(got(4L) == ((29L, 1L, 26L, 26L)))
  }

  test("graft_token_tf counts multiplicities, keeps empty tokens, first-occurrence order") {
    import spark.implicits._
    val got = Seq((1L, "b a b  b"), (2L, "x")).toDF("doc_id", "text")
      .selectExpr("doc_id", "explode(graft_token_tf(text)) AS t")
      .selectExpr("doc_id", "t.token", "t.tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // "b a b  b" splits to [b, a, b, "", b] — the doubled space yields a
    // REAL empty token, matching split semantics everywhere else
    assert(got.toSeq == Seq((1L, "b", 3L), (1L, "a", 1L), (1L, "", 1L),
      (2L, "x", 1L)))
  }

  test("graft_fixed_sum_hl equals the decimal sum on fixed-point data, SUM null semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2-dp fixed-point values incl. negatives and nulls; group c is
    // all-null and must yield NULL like SUM
    val rows = Seq(
      ("a", Some(12.34)), ("a", Some(-0.07)), ("a", Some(100000.01)),
      ("a", None), ("b", Some(-99999.99)), ("b", Some(0.01)),
      ("c", None)) ++ (1 to 5000).map(i => ("b", Some(i / 100.0)))
    val df = rows.toDF("g", "x")
    val got = df.groupBy("g")
      .agg(round(graft.plans.FixedPointSum.exact(col("x"), 2), 2)
        .cast("double").as("s"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val want = df.groupBy("g")
      .agg(round(sum(col("x").cast(org.apache.spark.sql.types
        .DecimalType(28, 2))), 2).cast("double").as("s"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got == want, s"got $got want $want")
    assert(got("c") == null)
    // scale-6 products: the q1 charge shape (2dp x 2dp x 2dp = 6 true dp)
    val prods = Seq((1.23, 0.96, 1.04), (45.67, 0.99, 1.08),
      (99999.99, 0.90, 1.00)).toDF("e", "d", "t")
      .select((col("e") * col("d") * col("t")).as("x"))
    val g6 = prods.agg(graft.plans.FixedPointSum.exact(col("x"), 6)
      .cast("double")).head.getDouble(0)
    val w6 = prods.agg(sum(col("x").cast(org.apache.spark.sql.types
      .DecimalType(28, 10))).cast("double")).head.getDouble(0)
    assert(g6 == w6, s"scale-6 kernel $g6 != decimal $w6")
  }
}
