package graft

import graft.sources.ShardSpoolSink
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.security.MessageDigest

/** Native DSv2 write path: PutRecord-shaped batch writes route by
  * MD5(partitionKey), sequence per shard, and round-trip through the
  * native reader.
  */
class ShardSpoolSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-sink").toString

  private def records(n: Int) =
    spark.range(n.toLong).selectExpr(
      "CAST(NULL AS STRING) AS stream",
      "CAST(NULL AS STRING) AS shardId",
      "CAST(NULL AS BIGINT) AS sequenceNumber",
      "CAST(NULL AS TIMESTAMP) AS approximateArrivalTimestamp",
      "concat('key', id % 7) AS partitionKey",
      "CAST(concat('payload-', id) AS BINARY) AS data")

  test("batch write → native batch read round-trips every record") {
    val dir = tmp()
    records(100).write.format("graft-shards")
      .option("path", dir).option("stream", "s1").option("shardCount", "3")
      .mode("append").save()
    val back = spark.read.format("graft-shards")
      .option("path", dir).option("stream", "s1").load()
    assert(back.count() == 100)
    val got = back.select(col("partitionKey"),
      col("data").cast("string")).as[(String, String)].collect().toSet
    val want = records(100).select(col("partitionKey"),
      col("data").cast("string")).as[(String, String)].collect().toSet
    assert(got == want)
  }

  test("shard routing is MD5(key) mod shardCount, stable per key") {
    val dir = tmp()
    records(60).write.format("graft-shards")
      .option("path", dir).option("stream", "s2").option("shardCount", "3")
      .mode("append").save()
    val back = spark.read.format("graft-shards")
      .option("path", dir).option("stream", "s2").load()
    val keyShards = back.select("partitionKey", "shardId")
      .distinct().as[(String, String)].collect()
    // each key maps to exactly one shard, and it is the MD5-ring shard
    assert(keyShards.length == 7)
    keyShards.foreach { case (k, s) =>
      assert(s == ShardSpoolSink.shardForWith(MessageDigest.getInstance("MD5"), k, 3),
        s"key $k landed on $s")
    }
  }

  test("appends continue per-shard sequence numbers; reader sees total order") {
    val dir = tmp()
    def put(lo: Int, hi: Int) =
      records(hi).where(col("partitionKey").isNotNull && expr(s"id >= $lo"))
        .write.format("graft-shards")
        .option("path", dir).option("stream", "s3").option("shardCount", "2")
        .mode("append").save()
    put(0, 10)
    put(10, 20)
    val back = spark.read.format("graft-shards")
      .option("path", dir).option("stream", "s3").load()
    assert(back.count() == 20)
    // per shard: sequence numbers are dense 0..n-1 with no duplicates
    back.groupBy("shardId")
      .agg(count(lit(1)).as("n"), min("sequenceNumber").as("lo"),
        max("sequenceNumber").as("hi"),
        count_distinct(col("sequenceNumber")).as("d"))
      .collect().foreach { r =>
        assert(r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1 &&
          r.getLong(4) == r.getLong(1), s"non-dense seqs: $r")
      }
  }

  test("streaming write: writeStream into the native sink, epoch-committed") {
    val dir = tmp()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)](spark)
    val df = input.toDF().selectExpr(
      "CAST(NULL AS STRING) AS stream",
      "CAST(NULL AS STRING) AS shardId",
      "CAST(NULL AS BIGINT) AS sequenceNumber",
      "CAST(NULL AS TIMESTAMP) AS approximateArrivalTimestamp",
      "_1 AS partitionKey",
      "CAST(_2 AS BINARY) AS data")
    val q = df.writeStream.format("graft-shards")
      .option("path", dir).option("stream", "s5").option("shardCount", "2")
      .option("checkpointLocation", tmp())
      .start()
    try {
      input.addData(("k1", "a"), ("k2", "b"))
      q.processAllAvailable()
      input.addData(("k1", "c"))
      q.processAllAvailable()
      val back = spark.read.format("graft-shards")
        .option("path", dir).option("stream", "s5").load()
      val got = back.select(col("partitionKey"), col("data").cast("string"))
        .as[(String, String)].collect().toSet
      assert(got == Set(("k1", "a"), ("k2", "b"), ("k1", "c")), s"got $got")
      // epoch markers recorded → replayed epochs are no-ops
      assert(new java.io.File(s"$dir/s5/_epochs").listFiles().nonEmpty)
    } finally q.stop()
  }

  test("a second query (fresh checkpoint, epochIds restarting at 0) is not deduped away") {
    val dir = tmp()
    def runQuery(stream: String, recs: Seq[(String, String)]): Unit = {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String)](spark)
      val df = input.toDF().selectExpr(
        "CAST(NULL AS STRING) AS stream", "CAST(NULL AS STRING) AS shardId",
        "CAST(NULL AS BIGINT) AS sequenceNumber",
        "CAST(NULL AS TIMESTAMP) AS approximateArrivalTimestamp",
        "_1 AS partitionKey", "CAST(_2 AS BINARY) AS data")
      val q = df.writeStream.format("graft-shards")
        .option("path", dir).option("stream", stream).option("shardCount", "2")
        .option("checkpointLocation", tmp())
        .start()
      try { input.addData(recs: _*); q.processAllAvailable() } finally q.stop()
    }
    // both queries start at epochId 0 — markers must be per-query, or the
    // second query's first epoch would be mistaken for a replay and dropped
    runQuery("s6", Seq(("k1", "a"), ("k2", "b")))
    runQuery("s6", Seq(("k3", "c")))
    val back = spark.read.format("graft-shards")
      .option("path", dir).option("stream", "s6").load()
    assert(back.count() == 3, s"second query's epoch was deduped away")
  }

  test("commit rename distinguishes crash-replay from a concurrent-writer collision") {
    // the collision window is the race between planRenames (which reads the
    // shard high-water mark) and the rename itself — not reproducible
    // through sequential public writes, so exercise the rename kernel
    // directly on its four cases
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("data", BinaryType)))
    val dir = tmp()
    val w = new graft.sources.ShardSpoolWrite(
      Map("path" -> dir, "stream" -> "sx"), schema)
    val staging = new java.io.File(dir, ".staging"); staging.mkdirs()
    val shardDir = new java.io.File(s"$dir/sx/shardId-000000000000"); shardDir.mkdirs()
    def f(parent: java.io.File, name: String, content: String) = {
      val x = new java.io.File(parent, name)
      Files.write(x.toPath, content.getBytes); x
    }
    // 1. normal publish: staged file moves to the target
    val s1 = f(staging, "a.tmp", "k\np1")
    val t1 = new java.io.File(shardDir, f"${0L}%020d.rec")
    w.renameOne(s1, t1)
    assert(t1.exists() && !s1.exists())
    // 2. crash-replay: source gone, target present → no-op, no error
    w.renameOne(s1, t1)
    assert(new String(Files.readAllBytes(t1.toPath)) == "k\np1")
    // 3. collision: BOTH exist (another writer published this sequence) →
    // must fail loudly, never silently drop the staged record
    val s3 = f(staging, "b.tmp", "k\np2")
    val err = intercept[java.io.IOException] { w.renameOne(s3, t1) }
    assert(err.getMessage.contains("sequence collision"))
    assert(s3.exists(), "staged record must survive the failed commit")
    assert(new String(Files.readAllBytes(t1.toPath)) == "k\np1",
      "the concurrent writer's record must not be overwritten")
    // 4. crash between link and unlink: target and staged are one file →
    // finish the publish by unlinking the staged name
    val s4 = f(staging, "c.tmp", "k\np3")
    val t4 = new java.io.File(shardDir, f"${1L}%020d.rec")
    Files.createLink(t4.toPath, s4.toPath)
    w.renameOne(s4, t4)
    assert(!s4.exists() && new String(Files.readAllBytes(t4.toPath)) == "k\np3")
  }

  test("concurrent publishers into one shard never silently replace a record") {
    // each publish plans its sequence number from the shard's high-water
    // mark, so concurrent publishers race for the same number; whichever
    // loses must fail loudly, never replace the winner's record
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import java.util.concurrent.{Callable, CountDownLatch, Executors}
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("data", BinaryType)))
    val dir = tmp()
    val (threads, perThread) = (8, 40)
    def publishOne(payload: String): Seq[(String, Long)] = {
      val w = new graft.sources.ShardSpoolWrite(
        Map("path" -> dir, "stream" -> "sc", "shardcount" -> "1"), schema)
      val writer = w.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }).createWriter(0, 0)
      writer.write(InternalRow(UTF8String.fromString("k"), payload.getBytes("UTF-8")))
      w.publish(Array(writer.commit()))
    }
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    val outcomes = try {
      val runs = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[(String, Either[Throwable, Long])]] {
          override def call() = {
            go.await()
            (0 until perThread).map { r =>
              val payload = s"t$t-r$r"
              payload -> (try publishOne(payload) match { case Seq((_, seq)) => Right(seq) }
                          catch { case e: java.io.IOException => Left(e) })
            }
          }
        })
      }
      go.countDown()
      runs.flatMap(_.get())
    } finally pool.shutdown()
    val acked = outcomes.collect { case (p, Right(seq)) => p -> seq }
    val failed = outcomes.collect { case (p, Left(e)) => p -> e }
    failed.foreach { case (p, e) =>
      assert(e.getMessage.contains("sequence collision"), s"$p failed with $e")
    }
    assert(acked.map(_._2).distinct.size == acked.size, "one sequence number acked twice")
    val shardDir = new java.io.File(s"$dir/sc/shardId-000000000000")
    acked.foreach { case (p, seq) =>
      val got = new String(Files.readAllBytes(new java.io.File(shardDir, f"$seq%020d.rec").toPath))
      assert(got == s"k\n$p", s"acked record $p at $seq was replaced by '$got'")
    }
    assert(shardDir.list().count(_.endsWith(".rec")) == acked.size)
    assert(acked.nonEmpty)
  }

  test("native write feeds the native micro-batch source (produce → consume)") {
    val dir = tmp()
    records(30).write.format("graft-shards")
      .option("path", dir).option("stream", "s4").option("shardCount", "2")
      .mode("append").save()
    val stream = spark.readStream.format("graft-shards")
      .option("path", dir).option("stream", "s4")
      .option("iterator", "TRIM_HORIZON").load()
    val name = s"sink_rt_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table(name).count() == 30)
  }
}
