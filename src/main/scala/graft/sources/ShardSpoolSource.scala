package graft.sources

import graft.streaming.StartPosition
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Map => JMap}
import scala.collection.JavaConverters._

/** DataSource V2 micro-batch source implementing the shard-spool protocol
  * natively (SURVEY.md §2 A2–A4, A6; §4.2's "proper DSv2 source" option).
  *
  * Layout (exactly what [[ShardSpoolSink]] writes, for `graft.Cli produce`
  * too — produce → consume round-trips through one directory contract):
  *
  * {{{
  *   <path>/<stream>/<shardId>/<seq 20-digit>.rec   ("key\n" ++ payload)
  *   <path>/<stream>/<shardId>/_closed              closed-shard marker
  * }}}
  *
  * Faithful mappings to the reference consumer:
  *  - shard discovery at query open (`DescribeStream`, consumer.go:74-86) →
  *    directory listing in `initialOffset`; closed shards (marker file) are
  *    skipped at startup and never re-checked (consumer.go:116-123);
  *    resharding contract: discovery is STARTUP-ONLY and the discovered set
  *    is persisted as the checkpointed offset map's key set, so a shard dir
  *    created mid-stream is invisible to the live query AND to any restart
  *    from the same checkpoint — only a fresh start (new checkpoint)
  *    re-discovers. This is the checkpointed analog of the reference, whose
  *    CLI lists shards once per process and has no checkpoint, so every
  *    restart there is a fresh discovery (pinned in ShardSpoolSourceSpec's
  *    two resharding tests);
  *  - one goroutine per shard (consumer.go:84), which reads its shard in
  *    sequence order → per-shard order kept across contiguous pieces: a
  *    micro-batch plans each shard's slice as one [[InputPartition]], or,
  *    when the slice holds more than ⌈frames in the batch /
  *    defaultParallelism⌉ frames, as contiguous sequence ranges of at
  *    most that many frames, emitted in (shard, seq) order. A skewed
  *    trigger (one hot shard draining alone) then runs on every core
  *    instead of one task, and partition order still follows each shard's
  *    sequence order. An even trigger plans one partition per shard, as
  *    does the batch scan;
  *  - `GetRecords(Limit)` poll (consumer.go:149-152) → `latestOffset`
  *    advances each shard by at most `limitPerTrigger` sequence numbers per
  *    trigger (per-shard admission control, like the per-fetch cap);
  *  - `NextShardIterator` threading (consumer.go:137,166) → the
  *    checkpointed per-shard offset map, JSON `{shard: lastSeqInclusive}`;
  *  - iterator modes (consumer.go:125-130), parsed by
  *    [[graft.streaming.StartPosition.parse]]: LATEST / TRIM_HORIZON
  *    resolve in `initialOffset`; AT_SEQUENCE_NUMBER seeds the offset map;
  *    AT_TIMESTAMP filters on arrival time (file mtime) at read.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-shards")
  *     .option("path", spoolDir).option("stream", "s1")
  *     .option("iterator", "TRIM_HORIZON")
  *     .option("limitPerTrigger", "500")
  *     .load()
  * }}}
  */
class ShardSpoolSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-shards"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardSpoolSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ShardSpoolTable(properties.asScala.toMap)
}

object ShardSpoolSource {
  val schema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("shardId", StringType),
    StructField("sequenceNumber", LongType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("partitionKey", StringType),
    StructField("data", BinaryType)))

  /** List open shard dirs (closed = `_closed` marker, skipped at startup).
    * Underscore-prefixed dirs are metadata (`_epochs`), not shards.
    */
  def openShards(streamDir: java.io.File): Seq[String] = {
    val subs = Option(streamDir.listFiles()).getOrElse(Array.empty)
    subs.filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .filterNot(d => new java.io.File(d, "_closed").exists())
      .map(_.getName).sorted.toSeq
  }

  /** Sequence numbers present in a shard dir (from `<seq>.rec` names). */
  def seqs(shardDir: java.io.File): Seq[Long] = {
    val fs = Option(shardDir.listFiles()).getOrElse(Array.empty)
    fs.filter(f => f.isFile && f.getName.endsWith(".rec"))
      .map(_.getName.stripSuffix(".rec").toLong).sorted.toSeq
  }
}

/** Per-shard high-water marks; `last` is inclusive, -1 = nothing read. */
case class ShardOffsets(last: Map[String, Long]) extends Offset {
  override def json(): String =
    last.toSeq.sortBy(_._1)
      .map { case (s, v) => "\"" + s + "\":" + v }
      .mkString("{", ",", "}")
}

object ShardOffsets {
  def fromJson(json: String): ShardOffsets = {
    val m = "\"([^\"]+)\":(-?\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    ShardOffsets(m)
  }
}

class ShardSpoolTable(props: Map[String, String]) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-shards:${props.getOrElse("stream", "?")}"
  override def schema(): StructType = ShardSpoolSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardSpoolScan(
        options.asScala.toMap.map { case (k, v) => (k.toLowerCase, v) } ++
          props.map { case (k, v) => (k.toLowerCase, v) })
    }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new ShardSpoolWrite(
          info.options.asScala.toMap.map { case (k, v) => (k.toLowerCase, v) } ++
            props.map { case (k, v) => (k.toLowerCase, v) } +
            // queryId is stable across restarts of one streaming query and
            // distinct across queries — it namespaces the epoch markers
            ("queryid" -> info.queryId()),
          info.schema())
    }
}

class ShardSpoolScan(opts: Map[String, String]) extends Scan {
  private val path = opts.getOrElse("path",
    throw new IllegalArgumentException("graft-shards requires option 'path'"))
  private val stream = opts.getOrElse("stream",
    throw new IllegalArgumentException("graft-shards requires option 'stream'"))
  private def streamDir = new java.io.File(path, stream)

  override def readSchema(): StructType = ShardSpoolSource.schema

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ShardSpoolSource.openShards(streamDir).map { shard =>
        ShardPartition(path, stream, shard, -1L, Long.MaxValue, sinceMicros)
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = new ShardReaderFactory
  }

  /** The start position, through the CLI's own parser: an invalid
    * RFC3339 `since` fails here, before the stream starts (C10/D3).
    */
  private lazy val start = StartPosition.parse(opts.getOrElse("iterator", "LATEST"),
    opts.get("since"), opts.get("seq").map(_.toLong))

  /** AT_TIMESTAMP filters on arrival time; other modes don't constrain it. */
  private def sinceMicros: Long = start match {
    case StartPosition.AtTimestamp(ts) => ts.toEpochMilli * 1000L
    case _ => Long.MinValue
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
      private val limitPerTrigger = opts.getOrElse("limitpertrigger", "500").toLong
      private val since = sinceMicros
      // shard set fixed at query open, like the reference (consumer.go:83-85)
      private lazy val shards = ShardSpoolSource.openShards(streamDir)

      // Trigger.AvailableNow: freeze the end goal at query start; each
      // micro-batch still advances at most limitPerTrigger per shard, the
      // engine keeps triggering until the frozen target is reached.
      private var availableNowTarget: Option[Map[String, Long]] = None
      override def prepareForTriggerAvailableNow(): Unit =
        availableNowTarget = Some(shards.map { shard =>
          shard -> ShardSpoolSource.seqs(new java.io.File(streamDir, shard))
            .lastOption.getOrElse(-1L)
        }.toMap)

      override def initialOffset(): Offset = {
        val m = shards.map { shard =>
          shard -> (start match {
            case StartPosition.Latest =>
              ShardSpoolSource.seqs(new java.io.File(streamDir, shard)).lastOption.getOrElse(-1L)
            case StartPosition.TrimHorizon | StartPosition.AtTimestamp(_) => -1L
            case StartPosition.AtSequenceNumber(seq) => seq - 1 // start inclusive at `seq`
          })
        }.toMap
        ShardOffsets(m)
      }

      override def latestOffset(): Offset =
        throw new UnsupportedOperationException("driver calls reportLatestOffset")

      override def reportLatestOffset(): Offset = null

      override def latestOffset(start: Offset, limit:
          org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
        val s = start.asInstanceOf[ShardOffsets].last
        // per-shard advance cap = the GetRecords Limit analog
        val m = s.map { case (shard, last) =>
          val upTo = availableNowTarget.flatMap(_.get(shard)).getOrElse(Long.MaxValue)
          val avail = ShardSpoolSource.seqs(new java.io.File(streamDir, shard))
            .filter(q => q > last && q <= upTo)
          shard -> (if (avail.isEmpty) last else avail.take(limitPerTrigger.toInt).last)
        }
        ShardOffsets(m)
      }

      override def getDefaultReadLimit:
          org.apache.spark.sql.connector.read.streaming.ReadLimit =
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[ShardOffsets].last
        val e = end.asInstanceOf[ShardOffsets].last
        val slices = e.toSeq.sortBy(_._1).flatMap { case (shard, endSeq) =>
          val startSeq = s.getOrElse(shard, -1L)
          if (endSeq > startSeq) Some((shard, startSeq, endSeq,
            ShardSpoolSource.seqs(new java.io.File(streamDir, shard))
              .filter(q => q > startSeq && q <= endSeq)))
          else None
        }
        val cores = org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
        val cap = math.max(1, (slices.map(_._4.size).sum + cores - 1) / cores)
        slices.flatMap { case (shard, startSeq, endSeq, frames) =>
          // piece j reads (last seq of piece j-1, last seq of piece j]; the
          // first starts at the slice start, the last ends at the slice end
          val lasts = frames.grouped(cap).map(_.last).toSeq.dropRight(1) :+ endSeq
          (startSeq +: lasts).zip(lasts).map { case (from, to) =>
            ShardPartition(path, stream, shard, from, to, since)
          }
        }.toArray
      }

      override def createReaderFactory(): PartitionReaderFactory = new ShardReaderFactory
      override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
}

/** One shard slice, or a contiguous piece of one: (startSeqExclusive,
  * endSeqInclusive] — one Spark task.
  */
case class ShardPartition(path: String, stream: String, shard: String,
    startSeqExclusive: Long, endSeqInclusive: Long, sinceMicros: Long)
  extends InputPartition

class ShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardPartition]
    new PartitionReader[InternalRow] {
      private val dir = new java.io.File(new java.io.File(p.path, p.stream), p.shard)
      private val files = ShardSpoolSource.seqs(dir)
        .filter(s => s > p.startSeqExclusive && s <= p.endSeqInclusive)
        .iterator
      private var row: InternalRow = _

      override def next(): Boolean = {
        while (files.hasNext) {
          val seq = files.next()
          val f = new java.io.File(dir, f"$seq%020d.rec")
          val arrivalMicros = f.lastModified() * 1000L
          if (arrivalMicros >= p.sinceMicros) {
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            val nl = bytes.indexOf('\n'.toByte)
            val key = new String(bytes, 0, math.max(nl, 0), "UTF-8")
            val payload = java.util.Arrays.copyOfRange(bytes, nl + 1, bytes.length)
            row = new GenericInternalRow(Array[Any](
              UTF8String.fromString(p.stream),
              UTF8String.fromString(p.shard),
              seq,
              arrivalMicros,
              UTF8String.fromString(key),
              payload))
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
