package graft

import graft.kpl.KplCodec
import graft.operators.RecordPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

/** Spark-side record pipeline suite: de-aggregation as a DataFrame
  * transform, golden-line console projections (ports
  * consumer_test.go:379-435), zlib error passthrough, partition keys.
  */
class RecordPipelineSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private val recordSchema = StructType(Seq(
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("stream", StringType),
    StructField("shardId", StringType),
    StructField("sequenceNumber", StringType),
    StructField("partitionKey", StringType),
    StructField("data", BinaryType)))

  private def recordsDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), recordSchema)

  private val ts = Timestamp.valueOf("2024-01-02 03:04:05")

  test("deaggregate: mixed plain/aggregated/corrupt input") {
    val framed = KplCodec.aggregate(Seq("k1" -> b("r1"), "k2" -> b("r2")))
    val corrupt = KplCodec.Magic ++ Array.fill(20)(0xFF.toByte)
    val df = recordsDf(Seq(
      Row(ts, "s", "shard-0", "seq-1", "plain-key", b("plain")),
      Row(ts, "s", "shard-0", "seq-2", "parent-key", framed),
      Row(ts, "s", "shard-1", "seq-3", "corrupt-key", corrupt)))
    val out = RecordPipeline.deaggregate(df)
      .select("partitionKey", "data", "sequenceNumber", "shardId")
      .collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8),
        r.getString(2), r.getString(3)))
      .sortBy(_._1)
    // corrupt record silently dropped; children inherit parent seq/shard
    assert(out.toSeq == Seq(
      ("k1", "r1", "seq-2", "shard-0"),
      ("k2", "r2", "seq-2", "shard-0"),
      ("plain-key", "plain", "seq-1", "shard-0")))
  }

  test("deaggregate preserves arbitrary parent columns") {
    val framed = KplCodec.aggregate(Seq("a" -> b("x")))
    val df = recordsDf(Seq(Row(ts, "str", "sh", "sq", "p", framed)))
      .withColumn("encryptionType", lit("KMS"))
    val out = RecordPipeline.deaggregate(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("encryptionType") == "KMS")
    assert(out.head.getAs[String]("partitionKey") == "a")
  }

  // ---- golden-line console projections (consumer_test.go:379-435)
  test("console plain: '<ts> <message>'") {
    val df = recordsDf(Seq(Row(ts, null, null, null, "k", b("something cool"))))
    val lines = RecordPipeline.consolePlain(df).collect().map(_.getString(0))
    assert(lines.toSeq == Seq("2024-01-02 03:04:05 something cool"))
  }

  test("console verbose: '<ts> <stream> <shardId> <seq> <message>'") {
    val df = recordsDf(Seq(
      Row(ts, "fake-stream", "fake-shard-id", "fake-sequence-number", "k", b("something cool"))))
    val lines = RecordPipeline.consoleVerbose(df).collect().map(_.getString(0))
    assert(lines.toSeq ==
      Seq("2024-01-02 03:04:05 fake-stream fake-shard-id fake-sequence-number something cool"))
  }

  test("message trims exactly one trailing newline (TrimSuffix parity)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(b("a")), Row(b("a\n")), Row(b("a\n\n")), Row(b("\n")), Row(b("a\nb")))),
      StructType(Seq(StructField("data", BinaryType))))
    val out = df.select(RecordPipeline.message(col("data")).as("m"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("a", "a", "a\n", "", "a\nb"))
  }

  // ---- zlib (consumer.go:211-224)
  test("zlib: deflate → inflate round trip") {
    val payload = ("the quick brown fox " * 50).getBytes(StandardCharsets.UTF_8)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(payload))),
      StructType(Seq(StructField("data", BinaryType))))
    val out = df.select(
      RecordPipeline.inflateZlib(RecordPipeline.deflateZlib(col("data"))).as("d"))
      .collect().head.getAs[Array[Byte]]("d")
    assert(out.toSeq == payload.toSeq)
  }

  test("zlib: non-zlib bytes pass through untouched") {
    val raw = Array.tabulate(64)(i => (255 - i).toByte)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(raw))),
      StructType(Seq(StructField("data", BinaryType))))
    val out = df.select(RecordPipeline.inflateZlib(col("data")).as("d"))
      .collect().head.getAs[Array[Byte]]("d")
    assert(out.toSeq == raw.toSeq)
  }

  test("zlib: truncated stream passes raw bytes through") {
    val payload = ("repeat me " * 100).getBytes(StandardCharsets.UTF_8)
    val full = {
      val buf = new java.io.ByteArrayOutputStream()
      val dos = new java.util.zip.DeflaterOutputStream(buf)
      dos.write(payload); dos.close(); buf.toByteArray
    }
    val truncated = full.take(full.length / 2)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(truncated))),
      StructType(Seq(StructField("data", BinaryType))))
    val out = df.select(RecordPipeline.inflateZlib(col("data")).as("d"))
      .collect().head.getAs[Array[Byte]]("d")
    assert(out.toSeq == truncated.toSeq)
  }

  test("zlib: output many buffer fills long and over 4x its input inflates whole, then a short one") {
    val payload = Array.tabulate(300000)(i => ('a' + i % 7).toByte)
    val small = b("short record after a long one")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(payload), Row(small)), 1),
      StructType(Seq(StructField("data", BinaryType))))
    val deflated = df.select(RecordPipeline.deflateZlib(col("data")).as("z"))
    val zs = deflated.collect().map(_.getAs[Array[Byte]]("z"))
    assert(payload.length > 4 * zs(0).length && payload.length > 8 * 8192)
    // one task on one thread: the short record reuses the grown inflate
    // buffer and must still come back at its own exact length
    val out = deflated.select(RecordPipeline.inflateZlib(col("z")).as("d"))
      .collect().map(_.getAs[Array[Byte]]("d"))
    assert(out(0).toSeq == payload.toSeq)
    assert(out(1).toSeq == small.toSeq)
  }

  test("zlib: a stream that needs a preset dictionary passes through raw instead of stalling") {
    val d = new java.util.zip.Deflater()
    d.setDictionary(b("dictionary"))
    d.setInput(b("dictionary words " * 40))
    d.finish()
    val buf = new Array[Byte](4096)
    val z = buf.take(d.deflate(buf))
    d.end()
    assert(graft.plans.ZlibOps.looksZlib(z))
    assert(graft.plans.ZlibOps.inflateOrRaw(z).toSeq == z.toSeq)
  }

  // ---- partition keys (producer.go:54-63)
  test("random partition key is 32 lowercase hex chars, unique per row") {
    val df = spark.range(100)
      .select(RecordPipeline.partitionKey(None).as("pk"))
    val keys = df.collect().map(_.getString(0))
    assert(keys.forall(_.matches("[0-9a-f]{32}")))
    assert(keys.distinct.length == keys.length)
  }

  test("explicit partition key wins; empty falls back to random") {
    val explicit = spark.range(3)
      .select(RecordPipeline.partitionKey(Some("my-key")).as("pk"))
      .collect().map(_.getString(0))
    assert(explicit.toSeq == Seq("my-key", "my-key", "my-key"))
    val fallback = spark.range(3)
      .select(RecordPipeline.partitionKey(Some("")).as("pk"))
      .collect().map(_.getString(0))
    assert(fallback.forall(_.matches("[0-9a-f]{32}")))
  }
}
