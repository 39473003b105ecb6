package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.charset.StandardCharsets

/** `graft-shards` spool fixtures shared by the streaming and CLI specs. */
object Spool {

  /** Writes one record file `<dir>/<stream>/<shard>/<seq 20-digit>.rec`
    * (`key\n` ++ data), arriving at `at` (UTC): the source reads a
    * record's arrival time from its file's mtime.
    */
  def put(dir: String, stream: String, shard: String, seq: Long, key: String,
      data: Array[Byte], at: String = "2024-01-01 00:00:00"): Unit = {
    val d = new java.io.File(s"$dir/$stream/$shard"); d.mkdirs()
    val f = new java.io.File(d, f"$seq%020d.rec")
    java.nio.file.Files.write(f.toPath,
      (key + "\n").getBytes(StandardCharsets.UTF_8) ++ data)
    assert(f.setLastModified(java.time.LocalDateTime.parse(at.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
  }

  /** Runs the streaming `df` (one string column) over the spool's current
    * contents under AvailableNow into a memory table; returns its rows and
    * the finished query.
    */
  def drain(spark: SparkSession, df: DataFrame): (Seq[String], StreamingQuery) = {
    val name = s"t${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "the drain did not finish within 60 s")
    (spark.table(name).collect().map(_.getString(0)).toSeq, q)
  }
}
