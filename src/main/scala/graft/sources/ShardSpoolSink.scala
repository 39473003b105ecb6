package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import java.io.File
import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}
import java.security.MessageDigest

/** Native DataSource V2 batch + streaming writer for the shard spool — the
  * PutRecord sink (SURVEY.md §2 B1/B2) as a first-class Spark sink rather
  * than a foreachBatch loop.
  *
  * Semantics mirrored from the reference producer:
  *  - shard routing = MD5(partitionKey) mod shardCount — an internally
  *    consistent MD5 ring (producer.go:39-43 delegates routing to the
  *    service; Kinesis itself splits the 2^128 hash-key space into
  *    contiguous per-shard RANGES, which assigns keys differently from mod
  *    — we only promise stable, uniform, engine-independent routing, not
  *    the service's exact key→shard map);
  *  - each record lands as `<path>/<stream>/<shard>/<seq 20-digit>.rec`
  *    containing `key \n payload` — the layout [[ShardSpoolSource]] reads,
  *    so native write → native read round-trips. `graft.Cli produce`
  *    drives this sink's own writer and [[ShardSpoolWrite.publish]] on the
  *    driver, so the CLI writes the same layout.
  *
  * Exactly-once protocol (streaming): tasks stage records under
  * `<path>/.staging/<writeId>-<epoch>/`; the driver's `commit` then
  *  1. writes an INTENT manifest `_epochs/<queryId>/<epoch>.intent`
  *     (atomic tmp+rename) listing every staged→target rename with final
  *     per-shard sequence numbers pre-assigned,
  *  2. publishes each staged file under its target name (a hard link that
  *     never replaces an existing target, then an unlink of the staged
  *     name — see [[ShardSpoolWrite.renameOne]]),
  *  3. renames the intent to `<epoch>.committed`.
  * A replayed epoch whose `.committed` exists is a no-op; one whose
  * `.intent` exists resumes the recorded publishes (one whose staged file
  * is gone and whose target exists is treated as done), so a crash at ANY
  * point inside commit publishes each record exactly once. Markers are
  * namespaced by `queryId` (stable across restarts of one query, distinct
  * across queries), so a fresh query whose epochIds restart at 0 is not
  * confused with a predecessor's epochs. Batch writes use the same publish
  * without markers — Spark fails the whole batch job on commit failure.
  */
object ShardSpoolSink {

  /** MD5-mod shard assignment: stable for a key across runs and engines
    * (NOT Kinesis's contiguous hash-range split — see class scaladoc).
    * Per-row callers reuse one `md5` digest across keys.
    */
  def shardForWith(md5: MessageDigest, key: String, shardCount: Int): String = {
    md5.reset()
    val d = md5.digest(key.getBytes(StandardCharsets.UTF_8))
    val idx = new BigInteger(1, d).mod(BigInteger.valueOf(shardCount.toLong)).intValue()
    f"shardId-$idx%012d"
  }

  final case class StagedFile(shard: String, stagedPath: String)
  final case class StagedFiles(files: Seq[StagedFile]) extends WriterCommitMessage
}

class ShardSpoolWrite(opts: Map[String, String], inputSchema: StructType)
    extends Write with BatchWrite {
  private val path = opts.getOrElse("path",
    throw new IllegalArgumentException("graft-shards requires option 'path'"))
  private val stream = opts.getOrElse("stream",
    throw new IllegalArgumentException("graft-shards requires option 'stream'"))
  private val shardCount = opts.getOrElse("shardcount", "2").toInt
  private val queryId = opts.getOrElse("queryid", "batch")
  private val writeId = java.util.UUID.randomUUID().toString
  private val keyIdx = inputSchema.fieldIndex("partitionKey")
  private val dataIdx = inputSchema.fieldIndex("data")

  private def streamDir = new File(path, stream)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ShardWriterFactory(path, stream, shardCount, writeId, keyIdx, dataIdx)

  /** Assign final per-shard sequence numbers (continuing each shard's
    * high-water mark) to every staged file, in message order.
    */
  private def planRenames(messages: Array[WriterCommitMessage]): Seq[(File, File)] = {
    val next = scala.collection.mutable.Map.empty[String, Long]
    def nextSeq(shard: String): Long = {
      val n = next.getOrElseUpdate(shard,
        ShardSpoolSource.seqs(new File(streamDir, shard)).lastOption.getOrElse(-1L) + 1)
      next(shard) = n + 1
      n
    }
    messages.toSeq.flatMap {
      case ShardSpoolSink.StagedFiles(files) =>
        files.map { sf =>
          val seq = nextSeq(sf.shard)
          (new File(sf.stagedPath),
            new File(new File(streamDir, sf.shard), f"$seq%020d.rec"))
        }
      case _ => Seq.empty
    }
  }

  /** Publish one staged file under its target name without ever replacing
    * a record: `Files.createLink(target, staged)` fails atomically when the
    * target exists, and only then is the staged file unlinked. A target
    * that already exists is done only when the staged file is gone (a
    * replayed publish during crash recovery) or is the very same file (a
    * crash between link and unlink, finished here). Otherwise another
    * writer (a concurrent producer that planned the same sequence number,
    * a zombie driver) published it first, and skipping would drop this
    * write's record while reporting success, so fail the commit instead.
    * `File.renameTo` would not do: on Linux it silently replaces the target.
    */
  private[graft] def renameOne(src: File, target: File): Unit = {
    val (s, t) = (src.toPath, target.toPath)
    if (!Files.exists(s)) {
      if (!Files.exists(t)) throw new java.io.IOException(s"commit failed: $src -> $target")
      // else: replayed publish, already done
    } else {
      target.getParentFile.mkdirs()
      try Files.createLink(t, s)
      catch {
        case _: FileAlreadyExistsException if Files.isSameFile(t, s) => // linked, not yet unlinked
        case _: FileAlreadyExistsException =>
          throw new java.io.IOException(
            s"sequence collision: $target already exists while staged $src is still " +
              "present — concurrent writer to the same stream? refusing to drop records")
      }
      Files.delete(s)
    }
  }

  private def rename(plan: Seq[(File, File)]): Unit =
    plan.foreach { case (src, target) => renameOne(src, target) }

  override def commit(messages: Array[WriterCommitMessage]): Unit = publish(messages)

  /** The batch commit: publishes every staged record and returns its
    * (shardId, sequenceNumber), in message order and, within a message,
    * in write order — `graft.Cli produce` prints these as its acks. There
    * is no intent manifest to resume from (Spark fails the whole job on
    * commit failure), so a rename that throws mid-commit must not leave
    * the targets renamed so far permanently visible: best-effort unlink
    * them before rethrowing.
    */
  private[graft] def publish(messages: Array[WriterCommitMessage]): Seq[(String, Long)] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[File]
    try
      planRenames(messages).foreach { case (src, target) =>
        renameOne(src, target)
        done += target
      }
    catch {
      case e: Throwable =>
        done.foreach(_.delete())
        deleteStaging()
        throw e
    }
    deleteStaging()
    done.map(t => (t.getParentFile.getName, t.getName.stripSuffix(".rec").toLong)).toSeq
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = deleteStaging()

  override def toStreaming:
      org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      private def epochsDir = new File(streamDir, new File("_epochs", queryId).getPath)
      private def intent(epochId: Long) = new File(epochsDir, s"$epochId.intent")
      private def committed(epochId: Long) = new File(epochsDir, s"$epochId.committed")

      override def createStreamingWriterFactory(info: PhysicalWriteInfo):
          org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
        StreamingShardWriterFactory(path, stream, shardCount, writeId, keyIdx, dataIdx)

      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        if (committed(epochId).exists()) { deleteStaging(); return } // replayed: no-op
        val plan =
          if (intent(epochId).exists()) // crash inside a previous commit: resume it
            Files.readAllLines(intent(epochId).toPath).toArray.toSeq.collect {
              case line: String if line.contains('\t') =>
                val Array(s, t) = line.split('\t')
                (new File(s), new File(t))
            }
          else {
            val p = planRenames(messages)
            epochsDir.mkdirs()
            val tmp = new File(epochsDir, s"$epochId.intent.tmp")
            Files.write(tmp.toPath, p.map { case (s, t) =>
              s"${s.getAbsolutePath}\t${t.getAbsolutePath}"
            }.mkString("\n").getBytes(StandardCharsets.UTF_8))
            Files.move(tmp.toPath, intent(epochId).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            p
          }
        rename(plan)
        Files.move(intent(epochId).toPath, committed(epochId).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        deleteStaging()
      }

      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        deleteStaging()
    }

  /** Remove this write's staging; opportunistically GC staging left by
    * crashed prior runs (older than 24 h — they can never commit again,
    * their driver is gone).
    */
  private def deleteStaging(): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(new File(path, ".staging").listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith(writeId) || d.lastModified() < cutoff)
      .foreach(rm)
  }
}

/** Top-level (serializable) streaming factory: stages under
  * `.staging/<writeId>-<epochId>/` so each epoch commits independently.
  */
case class StreamingShardWriterFactory(path: String, stream: String,
    shardCount: Int, writeId: String, keyIdx: Int, dataIdx: Int)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long):
      DataWriter[InternalRow] =
    new ShardWriterFactory(path, stream, shardCount, s"$writeId-$epochId",
      keyIdx, dataIdx).createWriter(partitionId, taskId)
}

class ShardWriterFactory(path: String, stream: String, shardCount: Int,
    writeId: String, keyIdx: Int, dataIdx: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val stagingDir =
        new File(new File(new File(path, ".staging"), writeId), s"$partitionId-$taskId")
      private val md5 = MessageDigest.getInstance("MD5") // reused per row
      private var n = 0L
      private val staged = Seq.newBuilder[ShardSpoolSink.StagedFile]

      override def write(row: InternalRow): Unit = {
        // PutRecord per row: explicit key required (B2's random-hex default
        // is applied upstream by RecordPipeline.partitionKey)
        val key = row.getUTF8String(keyIdx).toString
        val payload = row.getBinary(dataIdx)
        val shard = ShardSpoolSink.shardForWith(md5, key, shardCount)
        stagingDir.mkdirs()
        val f = new File(stagingDir, f"$n%020d.tmp")
        val out = new java.io.FileOutputStream(f)
        try { out.write(key.getBytes(StandardCharsets.UTF_8)); out.write('\n'); out.write(payload) }
        finally out.close()
        staged += ShardSpoolSink.StagedFile(shard, f.getAbsolutePath)
        n += 1
      }

      override def commit(): WriterCommitMessage =
        ShardSpoolSink.StagedFiles(staged.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
