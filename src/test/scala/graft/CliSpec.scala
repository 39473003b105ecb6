package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** CLI + control-semantics suite: arg validation (§2 D3, ports the
  * TestRead error cases of consumer_test.go:39-107), fail-fast first-error
  * termination (§2 D1), the assembled consume pipeline, and produce →
  * consume round trips through one `graft-shards` spool.
  */
class CliSpec extends SparkSpec {

  // ---- D3: argument validation (command/consume.go:34-37, produce.go:31-34)
  test("no args → help, exit 0 (root command behavior)") {
    assert(Cli.parse(Nil) == Right(Cli.Help))
  }
  test("consume without --stream → help + exit 1") {
    val Left((msg, code)) = Cli.parse(Seq("consume", "-v")): @unchecked
    assert(code == 1)
    assert(msg.contains("--stream is required"))
    assert(msg.contains("Usage:"))
  }
  test("produce without --stream → help + exit 1") {
    val Left((_, code)) = Cli.parse(Seq("produce")): @unchecked
    assert(code == 1)
  }
  test("unknown command rejected") {
    val Left((msg, code)) = Cli.parse(Seq("destroy", "-s", "x")): @unchecked
    assert(code == 1)
    assert(msg.contains("unknown command"))
  }
  test("consume flags parse with reference defaults (limit 500, interval 100, LATEST)") {
    val Right(Cli.Consume(cfg)) = Cli.parse(Seq("c", "-s", "a,b")): @unchecked
    assert(cfg.streams == Seq("a", "b")) // comma-split fan-in, consumer.go:53
    assert(cfg.limit == 500 && cfg.interval == 100L)
    assert(cfg.iterator == "LATEST" && !cfg.verbose)
    assert(cfg.region == "us-west-2")
  }
  test("consume full flag set") {
    val Right(Cli.Consume(cfg)) = Cli.parse(Seq("consume",
      "--stream", "s1", "-I", "AT_TIMESTAMP", "-t", "2024-01-01T02:00:00Z",
      "-l", "7", "-i", "250", "-c", "zlib", "-v", "--spool", "/tmp/x")): @unchecked
    assert(cfg.iterator == "AT_TIMESTAMP" && cfg.since.contains("2024-01-01T02:00:00Z"))
    assert(cfg.limit == 7 && cfg.interval == 250L)
    assert(cfg.compress.contains("zlib") && cfg.verbose && cfg.spool == "/tmp/x")
  }
  test("produce flags parse (key, aggregated, verbose)") {
    val Right(Cli.Produce(cfg)) = Cli.parse(Seq("p", "-s", "out",
      "-k", "fixed", "-a", "-v")): @unchecked
    assert(cfg.key.contains("fixed") && cfg.aggregated && cfg.verbose)
  }
  test("--verify-md5 parses; default stays reference-parity (no verification)") {
    val Right(Cli.Consume(on)) =
      Cli.parse(Seq("consume", "-s", "a", "--verify-md5")): @unchecked
    assert(on.verifyMd5)
    val Right(Cli.Consume(off)) = Cli.parse(Seq("consume", "-s", "a")): @unchecked
    assert(!off.verifyMd5)
  }

  // ---- the assembled consume pipeline (SURVEY §3.1 lifecycle)
  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def tmp(): String = Files.createTempDirectory("graft-cli").toString
  private def deflate(s: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val dos = new java.util.zip.DeflaterOutputStream(buf)
    dos.write(b(s)); dos.close(); buf.toByteArray
  }

  test("consume pipeline: deaggregate + zlib + console projection end-to-end") {
    val dir = tmp()
    Spool.put(dir, "s1", "shardId-000000000000", 1, "parent",
      graft.kpl.KplCodec.aggregate(Seq("k1" -> deflate("compressed payload\n"))),
      at = "2024-01-02 03:04:05")
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON",
      compress = Some("zlib"), spool = dir)
    val (lines, _) = Spool.drain(spark, Cli.consumeFrame(spark, cfg))
    // deaggregated, inflated, trailing \n trimmed, ts-formatted
    assert(lines == Seq("2024-01-02 03:04:05 compressed payload"))
  }

  test("--verify-md5 passes NULL-data rows through while dropping corrupt frames") {
    // graft_is_kpl/graft_kpl_md5_ok are nullSafeEval, so without the
    // explicit `data IS NULL OR` arm a NULL-data row would filter to NULL
    // and be silently dropped — diverging from the default path, which
    // passes NULLs through deaggregate. The verify filter must only drop
    // provably-corrupt KPL frames.
    val dir = tmp()
    val goodFrame = graft.kpl.KplCodec.aggregate(Seq("k1" -> b("good payload\n")))
    val corruptFrame = {
      val f = goodFrame.clone()
      f(f.length - 1) = (f(f.length - 1) ^ 0x5A).toByte // break the MD5 trailer
      f
    }
    Spool.put(dir, "s1", "shardId-000000000000", 1, "pk-good", goodFrame)
    Spool.put(dir, "s1", "shardId-000000000000", 2, "pk-corrupt", corruptFrame)
    Spool.put(dir, "s1", "shardId-000000000000", 3, "pk-plain", b("plain payload"))
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON",
      spool = dir, verifyMd5 = true)
    val (out, _) = Spool.drain(spark, Cli.consumeFrame(spark, cfg))
    // corrupt frame dropped whole; good frame deaggregated; plain record kept
    assert(out.map(_.drop(20)).sorted == Seq("good payload", "plain payload"), out)
    // a spool record always has data, so the NULL arm is pinned on a frame
    val withNull = spark.createDataFrame(java.util.Arrays.asList(
        Row("pk-null", null), Row("pk-corrupt", corruptFrame), Row("pk-good", goodFrame)),
      StructType(Seq(StructField("partitionKey", StringType), StructField("data", BinaryType))))
    assert(Cli.verifiedFrames(withNull).collect().map(_.getString(0)).sorted.toSeq ==
      Seq("pk-good", "pk-null"))
  }

  // ---- D1: first stream error terminates the query (consumer.go:57-61)
  test("fail-fast: a poisoned shard file kills the whole query") {
    val dir = tmp()
    Spool.put(dir, "s1", "shardId-000000000000", 1, "k", b("ok"))
    // a record file whose name is no sequence number fails the shard listing
    Files.write(java.nio.file.Paths.get(s"$dir/s1/shardId-000000000000/poison.rec"),
      b("k\nbad"))
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON", spool = dir)
    val q = Cli.consumeFrame(spark, cfg).writeStream.format("memory")
      .queryName(s"t${System.nanoTime()}")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[StreamingQueryException] { q.awaitTermination() }
    assert(e.getMessage != null)
  }

  // ---- produce → consume through one spool (ROADMAP Direction C)
  /** Runs `graft.Cli produce` argv over `lines` as its stdin; returns what it printed. */
  private def produce(argv: Seq[String], lines: Seq[String]): Seq[String] = {
    val Right(Cli.Produce(cfg)) = Cli.parse(argv): @unchecked
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Cli.produce(spark, cfg, lines))
    out.toString(StandardCharsets.UTF_8).linesIterator.toSeq
  }

  /** Runs `graft.Cli consume -I TRIM_HORIZON` argv to the end of the spool. */
  private def consumeAll(argv: Seq[String]): Seq[String] = {
    val Right(Cli.Consume(cfg)) = Cli.parse(argv ++ Seq("-I", "TRIM_HORIZON")): @unchecked
    Spool.drain(spark, Cli.consumeFrame(spark, cfg))._1
  }

  /** (shardId, sequence number) of every published record file. */
  private def published(dir: String, stream: String): Set[(String, Long)] =
    new java.io.File(dir, stream).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(d => d.list().filter(_.endsWith(".rec"))
        .map(f => (d.getName, f.stripSuffix(".rec").toLong))).toSet

  test("CLI round trip: produce -a frames the lines, consume de-aggregates every one") {
    val dir = tmp()
    val lines = Seq("alpha", "beta", "gamma")
    assert(produce(Seq("produce", "-s", "s1", "-a", "-k", "fixed", "--spool", dir), lines).isEmpty)
    assert(published(dir, "s1").size == 1, "one key, one KPL frame")
    val out = consumeAll(Seq("consume", "-s", "s1", "--spool", dir))
    assert(out.map(_.drop(20)).sorted == lines)
  }

  test("CLI produce twice with -k fixed keeps all six records, contiguous in one shard") {
    val dir = tmp()
    val argv = Seq("produce", "-s", "s1", "-k", "fixed", "--spool", dir)
    produce(argv, Seq("a1", "a2", "a3"))
    produce(argv, Seq("b1", "b2", "b3"))
    val out = consumeAll(Seq("consume", "-s", "s1", "-v", "--spool", dir))
      .map(_.split(" ")).map(f => (f(3), f(4).toLong, f(5))).sortBy(_._2)
    assert(out.map(_._1).distinct.length == 1, s"one key, one shard: $out")
    assert(out.map(_._2) == (0L until 6L))
    assert(out.map(_._3) == Seq("a1", "a2", "a3", "b1", "b2", "b3"))
  }

  test("CLI produce -v acks name exactly the published files, in stdin order") {
    val dir = tmp()
    val lines = (1 to 8).map(i => s"line$i")
    val printed = produce(Seq("produce", "-s", "s1", "-v", "--spool", dir), lines)
    assert(printed.length == 2 * lines.length)
    assert(printed.grouped(2).forall(_(1) == "---"), printed)
    val acks = printed.grouped(2).map(_.head.split(" ")).map(a => (a(0), a(1).toLong)).toSeq
    assert(acks.toSet == published(dir, "s1") && acks.distinct.length == lines.length)
    val landed = consumeAll(Seq("consume", "-s", "s1", "-v", "--spool", dir))
      .map(_.split(" ")).map(f => f(5) -> (f(3), f(4).toLong)).toMap
    assert(lines.map(landed) == acks, "ack i names the file line i landed in")
  }

  // ---- codegen reuse across streaming queries (Tables.staticConf)
  test("a second consume query over the same spool compiles no generated class") {
    val dir = tmp()
    for (shard <- 0 until 2; seq <- 0 until 3)
      Spool.put(dir, "s1", f"shardId-$shard%012d", seq, s"pk$shard",
        graft.kpl.KplCodec.aggregate((0 until 5).map(i => s"k$i" -> deflate(s"r$shard-$seq-$i\n"))))
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON", limit = 2,
      compress = Some("zlib"), spool = dir)
    /** One AvailableNow drain as a new query with its own checkpoint: its
      * rendered lines and the Janino compiles it caused.
      */
    def drain(): (Seq[String], Long) = {
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      val name = s"t${System.nanoTime()}"
      val q = Cli.consumeFrame(spark, cfg).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp())
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "the drain did not finish within 60 s")
      val lines = spark.table(name).collect().map(_.getString(0)).toSeq
      (lines, compiles.getCount - before)
    }
    val (first, _) = drain()
    val (second, compiled) = drain()
    assert(first.length == 30 && second.sorted == first.sorted)
    assert(compiled == 0, s"the second query recompiled $compiled generated classes")
  }
}
