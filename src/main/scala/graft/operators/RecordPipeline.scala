package graft.operators

import graft.kpl.KplCodec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record-stream transforms: the kitkat consumer/producer data path
  * re-expressed as composable `DataFrame => DataFrame` / `Column` pieces
  * (SURVEY.md §2 rows C3–C9, B2–B4). Works identically on batch frames and
  * Structured Streaming frames — the transforms are stateless narrow ops.
  *
  * The KPL decode is the native [[graft.plans.KplDeaggregate]] generator
  * (see [[deaggregate]]); zlib inflate and deflate are Scala UDFs over the
  * pooled [[graft.plans.ZlibOps]] kernels.
  */
object RecordPipeline {

  /** De-aggregation flatMap — consumer.go:156-191 (§2 C3+C4+C5+C6).
    *
    * Expects columns `data: binary` and `partitionKey: string`; every other
    * column is a parent attribute and is inherited by children (the
    * reference carries arrival ts, sequence number and encryption type
    * through — consumer.go:183-188).
    *
    *  - KPL-framed records (magic prefix) explode into N children with the
    *    looked-up partition keys; a decode error yields zero rows and the
    *    Generate node drops the parent — the reference's silent
    *    whole-record drop.
    *  - Plain records pass through 1:1 with their own key and data (NULL
    *    data included).
    *
    * One native [[graft.plans.KplDeaggregate]] Generate node (round 21):
    * the r7 form paid two ScalaUDF crossings per frame plus a
    * reflection-encoded child array that `explode` then re-walked; the
    * generator emits child InternalRows directly, from
    * [[graft.kpl.KplCodec.children]]'s one linear pass over the frame
    * bytes. The decoder it replaced held the key table in a `List` and
    * indexed it once per child, quadratic in the frame's child count
    * (182 ms → 10 ms single-threaded over 100k children at 500 per frame).
    */
  def deaggregate(df: DataFrame): DataFrame = {
    val parentCols = df.columns.filterNot(c => c == "data" || c == "partitionKey")
    val gen = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.KplDeaggregate(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("partitionKey")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("data"))))
    df.select(parentCols.map(col) :+
      gen.as(Seq("partitionKey", "data")): _*)
  }

  /** zlib inflate with raw-bytes-on-error passthrough — consumer.go:211-224
    * (§2 C7). Any failure (bad header, truncation, corrupt stream) returns
    * the input unchanged; the reference treats not-actually-compressed data
    * as plain payload.
    */
  val inflateZlib = udf { (data: Array[Byte]) =>
    if (data == null) null else graft.plans.ZlibOps.inflateOrRaw(data)
  }

  /** zlib deflate — the encode side (test fixture + produce path). Shares
    * [[graft.plans.ZlibOps]]'s pooled per-thread codec: the old
    * DeflaterOutputStream form allocated (and never `end()`ed) a native
    * Deflater PER ROW — q31 deflates every document, so at sf5 that was
    * ~2.5 M leaked native allocations per bench pass.
    */
  val deflateZlib = udf { (data: Array[Byte]) =>
    if (data == null) null else graft.plans.ZlibOps.deflate(data)
  }

  /** Payload bytes → message string with ONLY a trailing `\n` trimmed —
    * consumer.go:203 (§2 C8). `rtrim`/`trim` would strip all trailing
    * newlines and whitespace, and a bare `$` regex anchor matches before a
    * final line terminator too (Java regex), which would strip "a\n\n" to
    * "a". endsWith + substr removes exactly one suffix — the r7 form was
    * `regexp_replace(s, "\n\\z", "")`, identical semantics but a regex
    * Matcher walk per row on the consume hot path (round 21); NULL maps to
    * NULL through either form.
    */
  def message(data: Column): Column = {
    val s = data.cast("string")
    when(s.endsWith(lit("\n")), substr(s, lit(1), length(s) - 1)).otherwise(s)
  }

  /** Arrival-timestamp render `yyyy-MM-dd HH:mm:ss` — consumer.go:193 (§2 C9). */
  def arrivalTs(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** Console sink projection, plain mode — consumer.go:195-208 (§2 B3):
    * `"<ts> <message>"`.
    */
  def consolePlain(df: DataFrame): DataFrame =
    df.select(concat_ws(" ",
      arrivalTs(col("approximateArrivalTimestamp")), message(col("data"))).as("line"))

  /** Console sink projection, verbose mode — consumer.go:204-208 (§2 B4):
    * `"<ts> <stream> <shardId> <sequenceNumber> <message>"`.
    */
  def consoleVerbose(df: DataFrame): DataFrame =
    df.select(concat_ws(" ",
      arrivalTs(col("approximateArrivalTimestamp")),
      col("stream"), col("shardId"), col("sequenceNumber"),
      message(col("data"))).as("line"))

  /** Produce-side partition key — producer.go:54-63 (§2 B2): explicit key if
    * set, else a random 32-hex-char key (16 random bytes, hex-encoded).
    * `uuid()` supplies the per-row randomness (32 hex chars after dash
    * removal), matching the reference's key width.
    */
  def partitionKey(explicit: Option[String]): Column = explicit match {
    case Some(k) if k.nonEmpty => lit(k)
    case _ => lower(regexp_replace(uuid(), "-", ""))
  }

  /** Deterministic partition-key variant for oracle-checked tests: same
    * 32-hex-char shape, derived from the payload (md5) instead of a RNG.
    */
  def partitionKeyDeterministic(data: Column): Column = md5(data.cast("binary"))
}
