package graftbench

import graft.operators.RecordPipeline
import graftbench.Main.{Args, Report, median}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** kitkat's catch-up consume of what the real KPL writes: a backlog of
  * zlib-deflated records, KPL-aggregated 500 per frame (about 50 KB, near
  * KPL's AggregationMaxSize), is produced into a fresh spool through the
  * `graft-shards` sink, then drained from TRIM_HORIZON with
  * `Trigger.AvailableNow` through deaggregate -> inflateZlib ->
  * consolePlain, both as closed loops from one client. De-aggregation,
  * inflate and render bind. One cycle (produce + drain) is one pass; the
  * window runs cycles until it ends.
  */
object StreamWorkload {
  val Stream = "bench"
  val Shards = 4
  /** Logical records per backlog. */
  val Records = 100000
  /** Distinct partition keys. */
  val Keys = 40
  /** Records KPL-aggregated per frame. */
  val PerFrame = 500
  /** `limitPerTrigger`: frames admitted per shard per trigger, set so one
    * drain spans several triggers.
    */
  val Limit = 25
  /** Untimed cycles the measured session runs before timing starts: the
    * first cycle after the set-ups runs about a tenth slower than the next.
    */
  val SettleCycles = 1

  /** Seeded logical records as a Spark job: `id`, `partitionKey` and the
    * JSON line `json`, each field a hash of (seed, id).
    */
  def generate(spark: SparkSession, seed: Long, cores: Int): DataFrame = {
    def h(salt: String, mod: Int) = pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod.toLong))
    spark.range(0, Records, 1, cores).select(
      col("id"),
      format_string("pk-%05d", h("key", Keys)).as("partitionKey"),
      format_string("""{"id":%08d,"user":"u%06d","event":"%s","value":%d.%02d,"ts":%d,"tag":"%s"}""",
        col("id"), h("user", 100000),
        element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
          (h("event", 5) + 1).cast("int")),
        h("value", 10000), h("cents", 100), col("id") * 37 + 1700000000000L,
        substring(sha2(concat_ws(":", lit(seed), col("id")), 256), 1, 12)).as("json"))
  }

  private val deflate = udf { (b: Array[Byte]) =>
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** A rendered line with its arrival time cut away, leaving the message.
    * A line that is not of the expected form stays as it is and so fails
    * the digest.
    */
  private def normalized(line: org.apache.spark.sql.Column) =
    regexp_replace(line, "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} ", "")

  /** Order-independent digest: (rows, two 32-bit hash sums). */
  private def digest(df: DataFrame, c: org.apache.spark.sql.Column): (Long, Long, Long) = {
    val row = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(c).bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(hash(c).cast("long").bitwiseAND(lit(0xffffffffL))), lit(0L))).collect()(0)
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** The persisted backlog, the digest its drain must render and the ids
    * of the RDDs the harness persisted for it (left out of graft's cache
    * figures).
    */
  final class Inputs(val records: DataFrame, val expected: (Long, Long, Long), val rddIds: Set[Int])

  def inputs(spark: SparkSession, seed: Long, cores: Int): Inputs = {
    val recs = generate(spark, seed, cores)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = recs.select(col("partitionKey"), deflate(concat(col("json"), lit("\n")).cast("binary")).as("data"))
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    val ids = spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    new Inputs(df, digest(recs, col("json")), ids)
  }

  /** Lines a drain renders from the spool, the graft consume pipeline. */
  def render(src: DataFrame): DataFrame =
    RecordPipeline.consolePlain(
      RecordPipeline.deaggregate(src).withColumn("data", RecordPipeline.inflateZlib(col("data"))))

  private def produce(in: Inputs, spool: String): Unit =
    graft.streaming.ProduceSink.aggregateRecords(in.records, PerFrame).write.format("graft-shards")
      .option("path", spool).option("stream", Stream).option("shardCount", Shards.toString)
      .mode("append").save()

  final case class Cycle(produceS: Double, writeEndMs: Long, saveStartMs: Long, saveEndMs: Long,
      consumeS: Double, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      files: Long)

  private def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** The same cycle on one core, in a session of its own: the
    * single-thread baseline.
    */
  def singleThreadBaseline(a: Args, r: Report): Unit = {
    val spark = Main.session(1, a.work)
    try {
      val w = new StreamWorkload(a, r, 1)
      w.setUp(spark, 1)
      w.cycleIn(spark, None, new Spans(false), "local[1] cycle").foreach { c =>
        r.layers("baseline.local1_pass_s") = c.produceS + c.consumeS
        r.layers("baseline.local1_consume_rps") = Records / c.consumeS
      }
      w.release()
    } finally spark.stop()
  }
}

final class StreamWorkload(a: Args, r: Report, cores: Int) extends Main.Workload {
  import StreamWorkload._

  private var progress: ProgressListener = _
  private var in: Inputs = _
  private var n = 0

  /** A fresh directory for one cycle's spool and checkpoint. */
  private def nextDir(): File = {
    val d = new File(a.work, s"cycle-$cores-$n"); n += 1
    rmrf(d); d.mkdirs(); d
  }

  /** One produce + drain cycle on a fresh spool and checkpoint; the
    * directory is removed afterwards.
    */
  def cycleIn(spark: SparkSession, layers: Option[LayerListener], spans: Spans,
      what: String): Option[Cycle] = {
    val d = nextDir()
    try cycle(spark, d, layers, spans, what)
    finally rmrf(d)
  }

  private def cycle(spark: SparkSession, dir: File, layers: Option[LayerListener], spans: Spans,
      what: String): Option[Cycle] =
    spans("stream.cycle") {
      val spool = new File(dir, "spool").getAbsolutePath
      val ckpt = new File(dir, "checkpoint").getAbsolutePath
      r.op(s"$what produce") {
        val t0 = System.currentTimeMillis()
        spans("sources.sink.save")(produce(in, spool))
        val t1 = System.currentTimeMillis()
        (t0, t1)
      }.flatMap { case (t0, t1) =>
        val writeEnd = layers.map { l =>
          Trace.flush(spark)
          val ends = l.jobEnds.asScala.filter(e => e >= t0 && e <= t1).toSeq
          l.jobEnds.clear()
          if (ends.isEmpty) t1 else ends.max
        }.getOrElse(t1)
        val files = if (layers.isEmpty) 0L
          else Option(new File(spool, Stream).listFiles()).getOrElse(Array.empty[File])
            .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
            .count(_.getName.endsWith(".rec")).toLong
        var got = (0L, 0L, 0L)
        val sink: (DataFrame, Long) => Unit = (b, _) => {
          val d = digest(b, normalized(col("line")))
          got = (got._1 + d._1, got._2 + d._2, got._3 + d._3)
        }
        r.op(s"$what consume") {
          val c0 = System.currentTimeMillis()
          val q = spans("stream.drain") {
            val src = spark.readStream.format("graft-shards")
              .option("path", spool).option("stream", Stream)
              .option("iterator", "TRIM_HORIZON").option("limitPerTrigger", Limit.toString)
              .load()
            val query = render(src).writeStream
              .trigger(Trigger.AvailableNow())
              .option("checkpointLocation", ckpt)
              .foreachBatch(sink)
              .start()
            query.awaitTermination()
            query
          }
          val c1 = System.currentTimeMillis()
          val prog = progress.drained(q.runId)
          if (got != in.expected)
            throw new IllegalStateException(
              s"rendered lines differ from the generated records: got (rows, h1, h2) = $got, " +
                s"want ${in.expected}")
          println(f"[perfbench] $what produce ${(t1 - t0) / 1000.0}%.3f s consume ${(c1 - c0) / 1000.0}%.3f s triggers ${prog.size}")
          Cycle((t1 - t0) / 1000.0, writeEnd, t0, t1, (c1 - c0) / 1000.0, prog, files)
        }
      }
    }

  /** The backlog for this session and one untimed warm-up cycle. */
  def setUp(spark: SparkSession, round: Int): Unit = {
    progress = new ProgressListener
    spark.streams.addListener(progress)
    in = inputs(spark, a.seed, cores)
    cycleIn(spark, None, new Spans(false), s"set-up $round")
  }

  def release(): Unit = in.records.unpersist(blocking = true)

  def measure(spark: SparkSession): Unit = {
    for (c <- 1 to SettleCycles) cycleIn(spark, None, new Spans(false), s"settle $c")

    /** Whole cycles until `seconds` have gone and at least `minCycles` ran. */
    def window(seconds: Double, minCycles: Int, layers: Option[LayerListener],
        spans: Spans): Seq[Cycle] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = mutable.ArrayBuffer.empty[Cycle]
      var tried = 0
      do {
        out ++= cycleIn(spark, layers, spans, s"cycle $tried")
        tried += 1
      } while (System.nanoTime() < deadline || tried < minCycles)
      out.toSeq
    }

    def passS(cs: Seq[Cycle]) = median(cs.map(c => c.produceS + c.consumeS))

    def endToEnd(cs: Seq[Cycle]): Unit = {
      val trig = cs.flatMap(_.progress).filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").doubleValue())
      r.metrics("pass_s") = passS(cs)
      r.layers("step_ms_p50") = median(trig)
    }

    if (!a.trace) endToEnd(window(a.seconds, Main.MinUnits, None, new Spans(false)))
    else {
      val plainCycles = window(a.seconds / 2, 1, None, new Spans(false))
      endToEnd(plainCycles)
      val spans = new Spans(true)
      val cs = Trace.traced(spark, r, a.cores, in.rddIds)(l => window(a.seconds / 2, 1, Some(l), spans))
      r.layers("spark.cached_mb_peak") = Trace.cachedMb(spark, in.rddIds)
      streamLayers(cs)
      r.layers("trace.overhead_pct") = 100.0 * (passS(cs) / passS(plainCycles) - 1.0)
      val isoDir = nextDir()
      isolated(spark, isoDir, spans)
      rmrf(isoDir)
      Trace.writeSpans(a, spans)
    }
  }

  private def streamLayers(cs: Seq[Cycle]): Unit = {
    def perCycle(f: Cycle => Double) = median(cs.map(f))
    def phase(c: Cycle, k: String) =
      c.progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)).sum
    val lat = cs.flatMap(_.progress).map(p => Option(p.durationMs.get("latestOffset")).map(_.doubleValue()).getOrElse(0.0))
    r.layers("stream.produce_s") = perCycle(_.produceS)
    r.layers("stream.consume_s") = perCycle(_.consumeS)
    r.layers("stream.produce_rps") = Records / perCycle(_.produceS)
    r.layers("stream.consume_rps") = Records / perCycle(_.consumeS)
    r.layers("stream.triggers") = perCycle(_.progress.size.toDouble)
    r.layers("stream.trigger_ms") = perCycle(phase(_, "triggerExecution"))
    r.layers("stream.query_planning_ms") = perCycle(phase(_, "queryPlanning"))
    r.layers("stream.get_batch_ms") = perCycle(phase(_, "getBatch"))
    r.layers("stream.add_batch_ms") = perCycle(phase(_, "addBatch"))
    r.layers("stream.wal_commit_ms") = perCycle(phase(_, "walCommit"))
    r.layers("stream.commit_offsets_ms") = perCycle(phase(_, "commitOffsets"))
    r.layers("stream.empty_trigger_ratio") = {
      val all = cs.flatMap(_.progress)
      if (all.isEmpty) 0.0 else all.count(_.numInputRows == 0).toDouble / all.size
    }
    r.layers("sources.latest_offset_ms") = perCycle(phase(_, "latestOffset"))
    r.layers("sources.latest_offset_ms_p50") = median(lat)
    r.layers("sources.sink_write_s") = perCycle(c => (c.writeEndMs - c.saveStartMs) / 1000.0)
    r.layers("sources.sink_commit_s") = perCycle(c => (c.saveEndMs - c.writeEndMs) / 1000.0)
    r.layers("sources.files") = perCycle(_.files.toDouble)
  }

  /** Each layer of the consume path timed alone on persisted inputs
    * (median of three noop writes): the batch source scan, KPL
    * de-aggregation, zlib inflate and the console render.
    */
  private def isolated(spark: SparkSession, dir: File, spans: Spans): Unit = {
    val spool = new File(dir, "spool").getAbsolutePath
    r.op("isolated produce")(produce(in, spool))
    def timed(name: String, df: DataFrame): Double = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      r.op(s"isolated $name")(spans(name)(df.write.format("noop").mode("overwrite").save()))
      (System.nanoTime() - t0) / 1e9
    })
    val raw = spark.read.format("graft-shards").option("path", spool).option("stream", Stream).load()
    r.layers("sources.read_s") = timed("sources.read", raw)
    val rawP = raw.persist(StorageLevel.MEMORY_ONLY); rawP.count()
    r.layers("plans.deaggregate_s") = timed("plans.deaggregate", RecordPipeline.deaggregate(rawP))
    val children = RecordPipeline.deaggregate(rawP).persist(StorageLevel.MEMORY_ONLY); children.count()
    val inflated = children.withColumn("data", RecordPipeline.inflateZlib(col("data")))
    r.layers("plans.inflate_s") = timed("plans.inflate", inflated)
    val decoded = inflated.persist(StorageLevel.MEMORY_ONLY); decoded.count()
    r.layers("operators.render_s") = timed("operators.render", RecordPipeline.consolePlain(decoded))
    Seq(decoded, children, rawP).foreach(_.unpersist(blocking = true))
  }
}
