package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** DSv2 shard-spool source suite: native micro-batch offsets, start modes,
  * per-shard partitions, admission control, closed shards, checkpoint
  * resume — over the `.rec` files the graft-shards sink publishes.
  */
class ShardSpoolSourceSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-dsv2").toString

  private def put(dir: String, stream: String, shard: String, seq: Long,
      key: String, payload: String): Unit =
    Spool.put(dir, stream, shard, seq, key, payload.getBytes(StandardCharsets.UTF_8))

  private def reader(dir: String, extra: (String, String)*): DataFrame = {
    var r = spark.readStream.format("graft-shards")
      .option("path", dir).option("stream", "s1")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def runAll(df: DataFrame): (String, org.apache.spark.sql.streaming.StreamingQuery) = {
    val name = s"t${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    (name, q)
  }

  private def seed(dir: String): Unit = {
    put(dir, "s1", "shard-0", 1, "k1", "r1")
    put(dir, "s1", "shard-0", 2, "k2", "r2")
    put(dir, "s1", "shard-1", 3, "k3", "r3")
  }

  test("TRIM_HORIZON reads all records with full schema") {
    val dir = tmp(); seed(dir)
    val (name, _) = runAll(reader(dir, "iterator" -> "TRIM_HORIZON"))
    val rows = spark.table(name)
      .select("stream", "shardId", "sequenceNumber", "partitionKey", "data")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
        new String(r.getAs[Array[Byte]](4), StandardCharsets.UTF_8)))
      .sortBy(_._3)
    assert(rows.toSeq == Seq(
      ("s1", "shard-0", 1L, "k1", "r1"),
      ("s1", "shard-0", 2L, "k2", "r2"),
      ("s1", "shard-1", 3L, "k3", "r3")))
  }

  test("LATEST skips everything present at open") {
    val dir = tmp(); seed(dir)
    val stream = reader(dir, "iterator" -> "LATEST")
    val name = s"t${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      Thread.sleep(500) // first batch resolves the high-water marks
      put(dir, "s1", "shard-0", 9, "k9", "r9")
      var waited = 0
      while (spark.table(name).count() < 1 && waited < 20000) {
        Thread.sleep(200); waited += 200
      }
      val seqs = spark.table(name).select("sequenceNumber")
        .collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(9L))
    } finally q.stop()
  }

  test("AT_SEQUENCE_NUMBER starts inclusive at seq") {
    val dir = tmp(); seed(dir)
    val (name, _) = runAll(reader(dir, "iterator" -> "AT_SEQUENCE_NUMBER", "seq" -> "2"))
    val seqs = spark.table(name).select("sequenceNumber").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == Seq(2L, 3L))
  }

  test("invalid RFC3339 since fails before the stream starts") {
    val dir = tmp(); seed(dir)
    val e = intercept[Exception] {
      runAll(reader(dir, "iterator" -> "AT_TIMESTAMP", "since" -> "garbage"))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("RFC3339")), chain(e).toString)
  }

  test("closed shards (_closed marker) are skipped at startup") {
    val dir = tmp(); seed(dir)
    Files.write(new java.io.File(s"$dir/s1/shard-1/_closed").toPath, Array.emptyByteArray)
    val (name, _) = runAll(reader(dir, "iterator" -> "TRIM_HORIZON"))
    val shards = spark.table(name).select("shardId").collect().map(_.getString(0)).distinct
    assert(shards.toSeq == Seq("shard-0"))
  }

  test("per-trigger limit bounds per-shard advance per micro-batch") {
    val dir = tmp()
    (1 to 6).foreach(i => put(dir, "s1", "shard-0", i, s"k$i", s"r$i"))
    val (name, q) = runAll(reader(dir,
      "iterator" -> "TRIM_HORIZON", "limitPerTrigger" -> "2"))
    assert(spark.table(name).count() == 6)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, s"2-per-trigger over 6 records must take 3 batches, " +
      s"got ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows == 2))
  }

  test("one input partition per shard (shard-parallel scan)") {
    val dir = tmp(); seed(dir)
    val batch = spark.read.format("graft-shards")
      .option("path", dir).option("stream", "s1").load()
    assert(batch.rdd.getNumPartitions == 2) // shard-0, shard-1
    assert(batch.count() == 3)
  }

  /** One hot shard (12 records) and three cold ones (2 each). */
  private def skewed(dir: String): Unit = {
    (1 to 12).foreach(i => put(dir, "s1", "shard-0", i, s"k$i", s"hot-$i"))
    for (sh <- 1 to 3; i <- 1 to 2) put(dir, "s1", s"shard-$sh", 100 * sh + i, s"c$sh$i", s"cold-$sh-$i")
  }

  /** (shardId, sequenceNumber) of a `consoleVerbose` line. */
  private def shardSeq(line: String): (String, Long) = {
    val f = line.split(" ") // date, time, stream, shardId, sequenceNumber, message
    (f(3), f(4).toLong)
  }

  /** Drains `s1` with AvailableNow and limitPerTrigger 10 through
    * `consoleVerbose`: per micro-batch with rows, each input partition's
    * lines in partition order.
    */
  private def drainPartitions(dir: String): Seq[Seq[Seq[String]]] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[String]]]
    val sink: (DataFrame, Long) => Unit = (b, _) => {
      val parts = b.rdd.glom().collect().map(_.map(_.getString(0)).toSeq).toSeq
      if (parts.exists(_.nonEmpty)) batches += parts
    }
    val q = operators.RecordPipeline.consoleVerbose(reader(dir,
        "iterator" -> "TRIM_HORIZON", "limitPerTrigger" -> "10"))
      .writeStream.trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
    assert(q.awaitTermination(60000), "the drain did not finish within 60 s")
    batches.toSeq
  }

  test("skewed spool: same rows as one partition per shard, each shard in sequence order") {
    val dir = tmp(); skewed(dir)
    val (name, _) = runAll(operators.RecordPipeline.consoleVerbose(reader(dir,
      "iterator" -> "TRIM_HORIZON", "limitPerTrigger" -> "10")))
    val drained = spark.table(name).collect().map(_.getString(0)).toSeq
    val batch = spark.read.format("graft-shards").option("path", dir).option("stream", "s1").load()
    assert(batch.rdd.getNumPartitions == 4)
    val perShard = operators.RecordPipeline.consoleVerbose(batch).collect().map(_.getString(0)).toSeq
    assert(drained.sorted == perShard.sorted)
    for ((shard, seqs) <- drained.map(shardSeq).groupBy(_._1))
      assert(seqs.map(_._2) == seqs.map(_._2).sorted, s"$shard out of sequence order: $seqs")
  }

  test("skewed trigger splits the hot shard into contiguous pieces") {
    val dir = tmp(); skewed(dir)
    val batches = drainPartitions(dir)
    assert(batches.size == 2, batches.toString)
    val first = batches.head.filter(_.nonEmpty)
    assert(first.forall(p => p.map(l => shardSeq(l)._1).distinct.size == 1), first.toString)
    val hot = first.filter(p => shardSeq(p.head)._1 == "shard-0")
    // 16 frames on 4 cores: pieces of at most 4 frames
    assert(hot.size > 1 && hot.forall(_.size <= 4), hot.toString)
    assert(hot.flatten.map(l => shardSeq(l)._2) == (1L to 10L))
  }

  test("even slices plan one partition per shard") {
    val dir = tmp()
    for (sh <- 0 to 3; i <- 1 to 2) put(dir, "s1", s"shard-$sh", 10 * sh + i, s"k$sh$i", s"r$sh$i")
    val batches = drainPartitions(dir)
    assert(batches.size == 1)
    assert(batches.head.map(_.map(l => shardSeq(l)._1).distinct) ==
      (0 to 3).map(sh => Seq(s"shard-$sh")))
  }

  test("checkpoint resume continues from committed shard offsets") {
    val dir = tmp(); seed(dir)
    val ckpt = s"$dir/_ckpt"; val out = s"$dir/_out"
    def run(): Unit = {
      val q = reader(dir, "iterator" -> "TRIM_HORIZON").writeStream
        .format("parquet").option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    put(dir, "s1", "shard-0", 10, "k10", "r10")
    run()
    val seqs = spark.read.parquet(out).select("sequenceNumber")
      .collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == Seq(1L, 2L, 3L, 10L), "exactly-once across restarts")
  }

  test("resharding: a shard added mid-stream is ignored while old shards advance") {
    val dir = tmp(); seed(dir)
    val stream = reader(dir, "iterator" -> "TRIM_HORIZON")
    val name = s"t${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      var waited = 0
      while (spark.table(name).count() < 3 && waited < 20000) {
        Thread.sleep(200); waited += 200
      }
      // reshard: a brand-new shard, plus a new record on a known shard so
      // we can observe a full post-reshard poll cycle complete
      put(dir, "s1", "shard-2", 20, "k20", "r20")
      put(dir, "s1", "shard-0", 10, "k10", "r10")
      waited = 0
      while (!spark.table(name).select("sequenceNumber").collect()
          .exists(_.getLong(0) == 10L) && waited < 20000) {
        Thread.sleep(200); waited += 200
      }
      val shards = spark.table(name).select("shardId")
        .collect().map(_.getString(0)).distinct.sorted
      assert(shards.toSeq == Seq("shard-0", "shard-1"),
        "discovery is startup-only: shard-2 must stay invisible to the live query")
    } finally q.stop()
    // a fresh start (new query, no checkpoint) re-discovers the shard
    val (name2, _) = runAll(reader(dir, "iterator" -> "TRIM_HORIZON"))
    val shards2 = spark.table(name2).select("shardId")
      .collect().map(_.getString(0)).distinct.sorted
    assert(shards2.toSeq == Seq("shard-0", "shard-1", "shard-2"))
  }

  test("resharding: restart from a checkpoint keeps the frozen shard set") {
    val dir = tmp(); seed(dir)
    val ckpt = s"$dir/_ckpt"; val out = s"$dir/_out"
    def run(): Unit = {
      val q = reader(dir, "iterator" -> "TRIM_HORIZON").writeStream
        .format("parquet").option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    put(dir, "s1", "shard-2", 20, "k20", "r20")
    put(dir, "s1", "shard-0", 10, "k10", "r10")
    run()
    val rows = spark.read.parquet(out).select("shardId", "sequenceNumber")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    // the shard set lives in the checkpointed offset map: the restart reads
    // shard-0's new record but never sees shard-2 — only a fresh checkpoint
    // re-discovers (pinned above)
    assert(rows.toSeq == Seq(("shard-0", 1L), ("shard-0", 2L), ("shard-0", 10L),
      ("shard-1", 3L)))
  }

  test("deaggregation composes with the DSv2 source") {
    val dir = tmp()
    val framed = kpl.KplCodec.aggregate(Seq("a" -> "x".getBytes, "b" -> "y".getBytes))
    val d = new java.io.File(s"$dir/s1/shard-0"); d.mkdirs()
    Files.write(new java.io.File(d, f"${1L}%020d.rec").toPath,
      "parent\n".getBytes(StandardCharsets.UTF_8) ++ framed)
    val (name, _) = runAll(
      operators.RecordPipeline.deaggregate(reader(dir, "iterator" -> "TRIM_HORIZON")))
    val out = spark.table(name)
      .select("partitionKey", "data").collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).sorted
    assert(out.toSeq == Seq(("a", "x"), ("b", "y")))
  }
}
