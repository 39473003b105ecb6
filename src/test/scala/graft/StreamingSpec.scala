package graft

import graft.kpl.KplCodec
import graft.streaming._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming semantics suite (SURVEY.md §7.2 M3), through the CLI's consume
  * pipeline ([[Cli.consumeFrame]]) over a `graft-shards` spool: the four
  * start modes, per-trigger limit, closed-shard skip, multi-stream fan-in,
  * checkpoint restart and de-aggregation, each checking the flag's way into
  * the source's options; watermark late-data drop; and the producer's
  * round trip and per-record error tolerance ([[Cli.produce]]).
  */
class StreamingSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  private def ts(s: String) = Timestamp.valueOf(s)

  /** A verbose CLI consume of `streams` from `iterator`. */
  private def cfg(dir: String, iterator: String, streams: String*) =
    Cli.ConsumeConfig(streams = if (streams.isEmpty) Seq("s1") else streams,
      iterator = iterator, verbose = true, spool = dir)

  private def consume(c: Cli.ConsumeConfig) = Spool.drain(spark, Cli.consumeFrame(spark, c))

  /** Sequence numbers of verbose lines `<date> <time> <stream> <shard> <seq> <message>`. */
  private def seqs(lines: Seq[String]): Seq[Long] = lines.map(_.split(" ")(4).toLong).sorted

  /** Messages of plain lines `<date> <time> <message>`. */
  private def messages(lines: Seq[String]): Seq[String] = lines.map(_.drop(20)).sorted

  private def baseSpool(): String = {
    val dir = tmp()
    Spool.put(dir, "s1", "shardId-000000000000", 1, "k1", b("r1"), "2024-01-01 00:00:00")
    Spool.put(dir, "s1", "shardId-000000000000", 2, "k2", b("r2"), "2024-01-01 01:00:00")
    Spool.put(dir, "s1", "shardId-000000000001", 3, "k3", b("r3"), "2024-01-01 02:00:00")
    Spool.put(dir, "s1", "shardId-000000000001", 4, "k4", b("r4"), "2024-01-01 03:00:00")
    dir
  }

  test("TRIM_HORIZON reads everything") {
    val (lines, _) = consume(cfg(baseSpool(), "TRIM_HORIZON"))
    assert(seqs(lines) == Seq(1L, 2L, 3L, 4L))
  }

  test("LATEST only surfaces records newer than the open-time high-water mark") {
    val dir = baseSpool()
    val name = s"t${System.nanoTime()}"
    val q = Cli.consumeFrame(spark, cfg(dir, "LATEST")).writeStream.format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(50)).start()
    try {
      // the first trigger resolves the high-water marks: seq 2 and 4
      var waited = 0
      while (q.recentProgress.isEmpty && waited < 20000) { Thread.sleep(100); waited += 100 }
      assert(q.recentProgress.nonEmpty, "no trigger ran")
      Spool.put(dir, "s1", "shardId-000000000000", 5, "k5", b("r5"), "2024-01-01 04:00:00")
      Spool.put(dir, "s1", "shardId-000000000001", 6, "k6", b("r6"), "2024-01-01 05:00:00")
      waited = 0
      while (spark.table(name).count() < 2 && waited < 20000) { Thread.sleep(100); waited += 100 }
      assert(seqs(spark.table(name).collect().map(_.getString(0)).toSeq) == Seq(5L, 6L))
    } finally q.stop()
  }

  test("AT_SEQUENCE_NUMBER starts from the given sequence number inclusive") {
    val (lines, _) = consume(cfg(baseSpool(), "AT_SEQUENCE_NUMBER").copy(seq = Some(3L)))
    assert(seqs(lines) == Seq(3L, 4L))
  }

  test("AT_TIMESTAMP starts from the parsed RFC3339 instant") {
    val (lines, _) = consume(
      cfg(baseSpool(), "AT_TIMESTAMP").copy(since = Some("2024-01-01T02:00:00Z")))
    assert(seqs(lines) == Seq(3L, 4L))
  }

  test("AT_TIMESTAMP with no --since uses the zero time (reads everything)") {
    val (lines, _) = consume(cfg(baseSpool(), "AT_TIMESTAMP"))
    assert(seqs(lines) == Seq(1L, 2L, 3L, 4L))
  }

  test("invalid --since fails fast before any stream starts (consumer.go:48-51)") {
    val e = intercept[IllegalArgumentException] {
      StartPosition.parse("AT_TIMESTAMP", since = Some("invalid-timestamp"))
    }
    assert(e.getMessage.contains("RFC3339"))
    val before = spark.streams.active.length
    val viaCli = intercept[IllegalArgumentException] {
      Cli.consumeFrame(spark,
        cfg(baseSpool(), "AT_TIMESTAMP").copy(since = Some("invalid-timestamp")))
    }
    assert(viaCli.getMessage.contains("RFC3339"))
    assert(spark.streams.active.length == before)
  }

  test("closed shards are skipped at startup (consumer.go:116-123)") {
    val dir = baseSpool()
    Files.write(new java.io.File(s"$dir/s1/shardId-000000000001/_closed").toPath,
      Array.emptyByteArray)
    val (lines, _) = consume(cfg(dir, "TRIM_HORIZON"))
    assert(seqs(lines) == Seq(1L, 2L))
  }

  test("multi-stream fan-in unions concurrently consumed streams (consumer.go:53-55)") {
    val dir = baseSpool()
    Spool.put(dir, "s2", "shardId-000000000000", 9, "kx", b("rx"), "2024-01-01 00:30:00")
    val (lines, _) = consume(cfg(dir, "TRIM_HORIZON", "s1", "s2"))
    assert(lines.size == 5)
    assert(lines.map(_.split(" ")(2)).distinct.sorted == Seq("s1", "s2"))
    assert(seqs(lines) == Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("per-trigger limit caps each micro-batch (Limit analog, consumer.go:149-152)") {
    val dir = tmp()
    (1 to 4).foreach { i =>
      Spool.put(dir, "s1", "shardId-000000000000", i, s"k$i", b(s"r$i"), s"2024-01-01 0$i:00:00")
    }
    val (lines, q) = consume(cfg(dir, "TRIM_HORIZON").copy(limit = 1))
    assert(lines.size == 4)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 4, "1-record-per-trigger must yield 4 non-empty micro-batches")
    assert(batches.forall(_.numInputRows == 1))
  }

  test("deaggregation works as a streaming transform") {
    val dir = tmp()
    Spool.put(dir, "s1", "shardId-000000000000", 1, "plain", b("pl"))
    Spool.put(dir, "s1", "shardId-000000000000", 2, "parent",
      KplCodec.aggregate(Seq("a" -> b("x"), "b" -> b("y"))))
    val (lines, _) = consume(cfg(dir, "TRIM_HORIZON").copy(verbose = false))
    assert(messages(lines) == Seq("pl", "x", "y"))
  }

  test("watermark drops late events in streaming session aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("tss", "user_id")
      .withWatermark("tss", "1 hour")
      .groupBy(window(col("tss"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val name = s"t${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData((ts("2024-01-01 00:10:00"), 1L))
    q.processAllAvailable()
    // advance watermark far past the first window, then send a late event
    input.addData((ts("2024-01-01 06:00:00"), 1L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:20:00"), 1L)) // late: before watermark
    q.processAllAvailable()
    input.addData((ts("2024-01-01 09:00:00"), 1L)) // closes the first window
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table(name)
      .select(unix_micros(col("window.start")).as("ws"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // late event must NOT have been added to the 00:00 window
    assert(emitted(ts("2024-01-01 00:00:00").getTime * 1000) == 1L)
  }

  test("produce → consume round trip through the spool (PutRecord emulation)") {
    val dir = tmp()
    val Right(Cli.Produce(p)) = Cli.parse(Seq("produce", "-s", "out", "--spool", dir)): @unchecked
    Cli.produce(spark, p, Seq("msg one", "msg two", "msg three"))
    val Right(Cli.Consume(c)) =
      Cli.parse(Seq("consume", "-s", "out", "-I", "TRIM_HORIZON", "--spool", dir)): @unchecked
    val (lines, _) = consume(c)
    assert(messages(lines) == Seq("msg one", "msg three", "msg two"))
  }

  test("producer tolerates per-record failures and continues (producer.go:44-46)") {
    import spark.implicits._
    val dir = tmp()
    // a null partition key fails the sink writer on that record only; the
    // producer must print it and publish the healthy rows
    val records = Seq("ok1", "poison", "ok2").toDF("value")
      .select(when(col("value") === "poison", lit(null: String))
        .otherwise(col("value")).as("partitionKey"),
        col("value").cast("binary").as("data"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Cli.putRecords(Cli.ProduceConfig("out", spool = dir), records, cap = 3)
    }
    val printed = out.toString(StandardCharsets.UTF_8).linesIterator.toSeq
    assert(printed.length == 1 && printed.head.startsWith("ERROR: "), printed)
    val (lines, _) = consume(cfg(dir, "TRIM_HORIZON", "out").copy(verbose = false))
    assert(messages(lines) == Seq("ok1", "ok2"))
  }

  test("produce-side aggregation round-trips through deaggregate (D4 done properly)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 25).map(i => Row(s"key${i % 3}", b(s"payload$i"))), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partitionKey",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.BinaryType))))
    val aggregated = ProduceSink.aggregateRecords(df, maxPerRecord = 4)
    assert(aggregated.collect().forall(r => KplCodec.isAggregated(r.getAs[Array[Byte]]("data"))))
    val restored = aggregated.collect()
      .flatMap(r => KplCodec.deaggregate(r.getAs[Array[Byte]]("data")))
      .map { case (k, d) => (k, new String(d, StandardCharsets.UTF_8)) }
    assert(restored.length == 25)
    assert(restored.toSet == (1 to 25).map(i => (s"key${i % 3}", s"payload$i")).toSet)
  }

  test("checkpoint restart resumes from committed offsets, no reprocessing") {
    val dir = tmp()
    val ckpt = s"$dir/_ckpt"
    Spool.put(dir, "s1", "shardId-000000000000", 1, "k1", b("r1"))
    def run(): Unit = {
      val q = Cli.consumeFrame(spark, cfg(dir, "TRIM_HORIZON")).writeStream
        .format("parquet").option("path", s"$dir/_out").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run() // processes seq 1
    Spool.put(dir, "s1", "shardId-000000000000", 2, "k2", b("r2"), "2024-01-01 01:00:00")
    run() // NextShardIterator analog: resumes at the checkpointed offset
    val out = spark.read.parquet(s"$dir/_out").collect().map(_.getString(0)).toSeq
    assert(seqs(out) == Seq(1L, 2L), "each record delivered exactly once across restarts")
  }
}
