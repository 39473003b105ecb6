package graft

import graft.operators.RecordPipeline
import graft.sources.ShardSpoolWrite
import graft.streaming.{ProduceSink, StartPosition}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** CLI entry point mirroring the reference's command surface (SURVEY.md §3;
  * command/root.go, command/consume.go, command/produce.go):
  *
  * {{{
  *   graft.Cli consume|c --stream a,b [--iterator I] [--since t] [--limit n]
  *                       [--interval ms] [--compress zlib] [--verbose]
  *                       [--spool dir]
  *   graft.Cli produce|p --stream s [--key k] [--aggregated] [--verbose]
  *                       [--spool dir]
  * }}}
  *
  * Control semantics preserved:
  *  - no subcommand → help, exit 0 (command/root.go:11-17);
  *  - missing --stream → help + exit 1 (§2 D3, command/consume.go:34-37);
  *  - invalid RFC3339 --since fails fast before any stream starts (§2 C10);
  *  - first stream error terminates the process (§2 D1) — Structured
  *    Streaming's awaitTermination rethrows the first task failure, the
  *    exact analog of the reference's buffered errChan (consumer.go:57-61);
  *  - produce reads newline-delimited messages from stdin (§2 A1/C1,
  *    producer/producer.go:30-36).
  *
  * Both commands speak one spool contract, the `graft-shards` layout
  * `<spool>/<stream>/<shardId>/<seq>.rec`: produce writes through the
  * [[graft.sources.ShardSpoolSink]]'s writer and commit, consume reads
  * through [[graft.sources.ShardSpoolSource]] (`--limit` is its per-shard
  * per-trigger cap, `--interval` the processing-time trigger), so what
  * one writes the other reads.
  *
  * `--region` is accepted for flag parity but is a no-op: the emulated
  * transport is the spool directory.
  */
object Cli {

  final case class ConsumeConfig(
      streams: Seq[String],
      region: String = "us-west-2",
      iterator: String = "LATEST",
      since: Option[String] = None,
      seq: Option[Long] = None,
      limit: Int = 500,
      interval: Long = 100,
      compress: Option[String] = None,
      verbose: Boolean = false,
      verifyMd5: Boolean = false,
      spool: String = "./spool")

  final case class ProduceConfig(
      stream: String,
      region: String = "us-west-2",
      key: Option[String] = None,
      aggregated: Boolean = false,
      verbose: Boolean = false,
      spool: String = "./spool")

  sealed trait Parsed
  final case class Consume(cfg: ConsumeConfig) extends Parsed
  final case class Produce(cfg: ProduceConfig) extends Parsed
  case object Help extends Parsed

  val helpText: String =
    """graft — Kinesis-semantics stream producer and consumer on Spark
      |
      |Usage:
      |  consume, c   read records from stream(s) and print to stdout
      |  produce, p   read stdin lines and put each as one record
      |
      |Flags (consume): -s/--stream (required, comma-separable) -r/--region
      |  -I/--iterator LATEST|TRIM_HORIZON|AT_SEQUENCE_NUMBER|AT_TIMESTAMP
      |  -t/--since RFC3339  --seq N  -l/--limit N  -i/--interval MS
      |  -c/--compress zlib  -v/--verbose  --verify-md5  --spool DIR
      |Flags (produce): -s/--stream (required) -r/--region -k/--key
      |  -a/--aggregated -v/--verbose --spool DIR""".stripMargin

  /** Parse argv. Left((message, exitCode)) on validation failure — missing
    * --stream prints help and exits 1, exactly like the reference (D3).
    */
  def parse(args: Seq[String]): Either[(String, Int), Parsed] = {
    if (args.isEmpty) return Right(Help)
    val (cmd, rest) = (args.head, args.tail)

    def flags(rest: Seq[String]): Either[(String, Int), Map[String, String]] = {
      val acc = scala.collection.mutable.Map[String, String]()
      var i = 0
      val boolFlags = Set("-v", "--verbose", "-a", "--aggregated", "--verify-md5")
      while (i < rest.length) {
        val a = rest(i)
        if (!a.startsWith("-")) return Left((s"unexpected argument $a\n$helpText", 1))
        if (boolFlags(a)) { acc(a) = "true"; i += 1 }
        else if (i + 1 >= rest.length) return Left((s"flag $a needs a value\n$helpText", 1))
        else { acc(a) = rest(i + 1); i += 2 }
      }
      Right(acc.toMap)
    }

    def get(m: Map[String, String], short: String, long: String): Option[String] =
      m.get(short).orElse(m.get(long))

    cmd match {
      case "consume" | "c" =>
        flags(rest).flatMap { m =>
          get(m, "-s", "--stream") match {
            case None | Some("") => Left((s"--stream is required\n$helpText", 1))
            case Some(s) => Right(Consume(ConsumeConfig(
              streams = s.split(",").toSeq,
              region = get(m, "-r", "--region").getOrElse("us-west-2"),
              iterator = get(m, "-I", "--iterator").getOrElse("LATEST"),
              since = get(m, "-t", "--since"),
              seq = m.get("--seq").map(_.toLong),
              limit = get(m, "-l", "--limit").map(_.toInt).getOrElse(500),
              interval = get(m, "-i", "--interval").map(_.toLong).getOrElse(100),
              compress = get(m, "-c", "--compress"),
              verbose = m.contains("-v") || m.contains("--verbose"),
              verifyMd5 = m.contains("--verify-md5"),
              spool = m.getOrElse("--spool", "./spool"))))
          }
        }
      case "produce" | "p" =>
        flags(rest).flatMap { m =>
          get(m, "-s", "--stream") match {
            case None | Some("") => Left((s"--stream is required\n$helpText", 1))
            case Some(s) => Right(Produce(ProduceConfig(
              stream = s,
              region = get(m, "-r", "--region").getOrElse("us-west-2"),
              key = get(m, "-k", "--key"),
              aggregated = m.contains("-a") || m.contains("--aggregated"),
              verbose = m.contains("-v") || m.contains("--verbose"),
              spool = m.getOrElse("--spool", "./spool"))))
          }
        }
      case other => Left((s"unknown command $other\n$helpText", 1))
    }
  }

  /** Consumer pipeline: one `graft-shards` source per `--stream`, unioned
    * (multi-stream fan-in, consumer.go:53-55) → deaggregate → optional zlib
    * inflate → console projection — the full flagship lifecycle of SURVEY
    * §3.1.
    */
  def consumeFrame(spark: SparkSession, cfg: ConsumeConfig): DataFrame = {
    StartPosition.parse(cfg.iterator, cfg.since, cfg.seq) // C10: fail fast, before any stream
    val raw = cfg.streams.map { stream =>
      spark.readStream.format("graft-shards")
        .options(Map("path" -> cfg.spool, "stream" -> stream, "iterator" -> cfg.iterator,
          "limitPerTrigger" -> cfg.limit.toString) ++
          cfg.since.map("since" -> _) ++ cfg.seq.map("seq" -> _.toString))
        .load()
    }.reduce(_ unionByName _)
    val deagg = RecordPipeline.deaggregate(if (cfg.verifyMd5) verifiedFrames(raw) else raw)
    val decoded =
      if (cfg.compress.contains("zlib"))
        deagg.withColumn("data", RecordPipeline.inflateZlib(col("data")))
      else deagg
    if (cfg.verbose) RecordPipeline.consoleVerbose(decoded)
    else RecordPipeline.consolePlain(decoded)
  }

  /** The --verify-md5 extension (C4): drop whole KPL frames whose MD5
    * trailer fails BEFORE de-aggregation — a corrupt frame must not
    * contribute any children. The default keeps reference parity (never
    * verifies, consumer.go:174). Codegen'd expression on the scan, no extra
    * pass. NULL data must pass through: both predicates are nullSafeEval,
    * so without the explicit IS NULL arm a NULL-data row would evaluate to
    * NULL and be silently dropped — a divergence from the default path
    * (deaggregate passes NULLs through) beyond the flag's corrupt-frame
    * scope.
    */
  private[graft] def verifiedFrames(raw: DataFrame): DataFrame =
    raw.filter(expr("data IS NULL OR NOT graft_is_kpl(data) OR graft_kpl_md5_ok(data)"))

  /** Shards `produce` spreads a stream over. */
  private val ProduceShards = 4

  /** The produce command over `lines`, one record per line (A1/C1,
    * producer/producer.go:30-36), KPL-aggregated under `--aggregated`.
    */
  def produce(spark: SparkSession, cfg: ProduceConfig, lines: Seq[String]): Unit = {
    import spark.implicits._
    val records = lines.toDF("value")
      .select(RecordPipeline.partitionKey(cfg.key).as("partitionKey"),
        col("value").cast("binary").as("data"))
    putRecords(cfg, if (cfg.aggregated) ProduceSink.aggregateRecords(records) else records,
      cap = math.max(lines.size, 1))
  }

  /** The reference producer's synchronous record-at-a-time PutRecord loop
    * (producer.go:38-52) over `records` (`partitionKey`, `data`), through
    * the `graft-shards` sink's own writer and rename commit, so sequence
    * numbers continue each shard's high-water mark. A record whose write
    * fails is printed as `ERROR: …` and skipped (D2, producer.go:44-46);
    * `verbose` prints each published record's `ShardId SequenceNumber` ack
    * and a `---` separator (B5, producer.go:47-50). Both print in record
    * order, once the records are published.
    *
    * Driver-side by design, not a data scan: bounded by construction (every
    * row derives from a stdin line already in driver memory; KPL
    * aggregation only shrinks the count) and routed through Bounded so the
    * driver-fetch audit stays total: the cap IS the stdin line count.
    */
  private[graft] def putRecords(cfg: ProduceConfig, records: DataFrame, cap: Int): Unit = {
    val recs = records.select("partitionKey", "data")
    val write = new ShardSpoolWrite(Map("path" -> cfg.spool, "stream" -> cfg.stream,
      "shardcount" -> ProduceShards.toString), recs.schema)
    val writer = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).createWriter(0, 0)
    val outcomes = graft.Bounded.collect(recs, cap,
        what = "produce records (one per stdin line, fewer when aggregated)").map { r =>
      try {
        writer.write(InternalRow(UTF8String.fromString(r.getString(0)), r.getAs[Array[Byte]](1)))
        None
      } catch { case e: Exception => Some(e.getMessage) }
    }
    val acks = write.publish(Array(writer.commit())).iterator
    outcomes.foreach {
      case Some(msg) => println(s"ERROR: $msg")
      case None =>
        val (shard, seq) = acks.next()
        if (cfg.verbose) { println(s"$shard $seq"); println("---") }
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left((msg, code)) =>
      System.err.println(msg)
      sys.exit(code)
    case Right(Help) =>
      println(helpText)
    case Right(Consume(cfg)) =>
      val spark = session()
      val q = consumeFrame(spark, cfg).writeStream
        .format("console").option("truncate", "false")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(cfg.interval))
        .start()
      q.awaitTermination() // D1: first stream error surfaces here and kills the process
    case Right(Produce(cfg)) =>
      val spark = session()
      produce(spark, cfg, scala.io.Source.stdin.getLines().toSeq)
      spark.stop()
  }

  // Spark's default local dir, not Tables.scratchDirConf: a deployment's
  // own local-dir policy wins
  private def session(): SparkSession = Tables.session(4, Map.empty)
}
