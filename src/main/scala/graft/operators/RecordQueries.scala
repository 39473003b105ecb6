package graft.operators

import graft.{Q, Tables}
import graft.kpl.KplCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the record pipeline (SURVEY.md §2 B2–B4,
  * C3–C9). The kitkat wire formats have no DuckDB equivalent, so each query
  * is a round trip: encode inside Spark from a fixture table, push through
  * the engine transform under test, and emit rows that must equal a trivial
  * identity SELECT over the fixture — a full-table encode/decode equality
  * proof, strictly stronger than a rows-only check.
  */
object RecordQueries {

  private val aggUdf = udf { (keys: Seq[String], datas: Seq[Array[Byte]]) =>
    KplCodec.aggregate(keys.zip(datas))
  }

  /** q30/q37's KPL frames: the even doc_ids packed 16 to a record
    * through the proto2 encoder + magic/MD5 framing, each record's
    * (key, payload) = (doc_id, text). Returns (batch = doc_id div 16,
    * data).
    */
  private def evenDocFrames(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)
      .groupBy(expr("doc_id div 16").as("batch"))
      .agg(collect_list(struct(
        col("doc_id").cast("string").as("k"),
        col("text").cast("binary").as("d"))).as("items"))
      .select(col("batch"),
        aggUdf(expr("transform(items, x -> x.k)"),
               expr("transform(items, x -> x.d)")).as("data"))

  /** Deterministically invalid KPL frame: magic + 20×0xFF (varint overruns
    * 10 bytes → guaranteed decode error → silent drop, consumer.go:177-179).
    */
  private val corruptFrame: Array[Byte] =
    KplCodec.Magic ++ Array.fill(20)(0xFF.toByte)

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- Q30
    // KPL de-aggregation round trip (C3+C4+C5+C6): even doc_ids are packed
    // 16-to-a-record through the proto2 encoder + magic/MD5 framing, odd
    // doc_ids ride as plain records, and 5 corrupt frames are mixed in.
    // deaggregate() must explode the aggregates, pass the plain records
    // through, drop the corrupt frames, and restore every (key, payload)
    // pair — so the output equals SELECT doc_id, text FROM documents.
    Q("q30_kpl_roundtrip", Some("""
      SELECT CAST(doc_id AS VARCHAR) AS partition_key, text AS message
      FROM documents""")) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aggregated = evenDocFrames(docs)
        .select(lit("parent-key").as("partitionKey"), col("data"))
      val plain = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("string").as("partitionKey"),
          col("text").cast("binary").as("data"))
      val corrupt = docs.filter(col("doc_id") < 10)
        .select(lit("corrupt-key").as("partitionKey"),
          lit(corruptFrame).as("data"))
      RecordPipeline.deaggregate(aggregated.unionByName(plain).unionByName(corrupt))
        .select(col("partitionKey").as("partition_key"),
          col("data").cast("string").as("message"))
    },

    // ---------------------------------------------------------------- Q37
    // KPL MD5-trailer VERIFICATION — the optional C4 extension (the
    // reference strips the trailer without checking it, consumer.go:174;
    // q30's deaggregation keeps that parity, this adds the strict-mode
    // flag). Every even-doc batch is framed exactly like q30 and must
    // verify TRUE; the same frames with a zeroed trailer keep a valid
    // magic + body but must verify FALSE. The oracle derives the same
    // (key, verdict) rows from the batch arithmetic alone — DuckDB never
    // sees the frames, so a wrong verdict on either population breaks the
    // hash compare.
    Q("q37_kpl_md5_verify", Some("""
      WITH b AS (SELECT DISTINCT doc_id // 16 AS batch
                 FROM documents WHERE doc_id % 2 = 0)
      SELECT 'batch-' || CAST(batch AS VARCHAR) AS partition_key,
             TRUE AS md5_ok
      FROM b
      UNION ALL
      SELECT 'tampered-' || CAST(batch AS VARCHAR), FALSE FROM b""")) { (s, dir) =>
      val frames = evenDocFrames(Tables.t(s, dir, "documents"))
      val valid = frames.select(
        concat(lit("batch-"), col("batch").cast("string")).as("partition_key"),
        col("data"))
      // zero the 16-byte trailer: magic and body stay intact, so only the
      // checksum compare itself can catch the tamper
      val tampered = frames.select(
        concat(lit("tampered-"), col("batch").cast("string")).as("partition_key"),
        expr("concat(substring(data, 1, length(data) - 16), " +
          "X'00000000000000000000000000000000')").as("data"))
      valid.unionByName(tampered)
        .selectExpr("partition_key", "graft_kpl_md5_ok(data) AS md5_ok")
    },

    // ---------------------------------------------------------------- Q31
    // zlib inflate round trip + raw-on-error passthrough (C7): `inflated`
    // deflates then inflates every document; `passthrough` feeds bytes that
    // can never be a zlib stream ('P:' prefix fails the CMF check) and must
    // come back untouched — consumer.go:211-224.
    Q("q31_zlib_roundtrip", Some("""
      SELECT doc_id, text AS inflated, 'P:' || text AS passthrough
      FROM documents""")) { (s, dir) =>
      import RecordPipeline.{deflateZlib, inflateZlib}
      Tables.t(s, dir, "documents").select(
        col("doc_id"),
        inflateZlib(deflateZlib(col("text").cast("binary"))).cast("string").as("inflated"),
        inflateZlib(concat(lit("P:"), col("text")).cast("binary")).cast("string").as("passthrough"))
    },

    // ---------------------------------------------------------------- Q32
    // Console sink, plain projection (B3 = C8+C9): "<ts> <message>" with the
    // arrival timestamp rendered yyyy-MM-dd HH:mm:ss and ONLY a trailing
    // newline trimmed from the payload — consumer.go:195-208. The payload is
    // built with an appended '\n' so the trim is actually exercised.
    Q("q32_console_plain", Some("""
      SELECT event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || event_type AS line
      FROM events""")) { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      ev.select(
        col("event_id"),
        concat_ws(" ",
          RecordPipeline.arrivalTs(timestamp_micros(expr(Tables.tsUsSql(ev)))),
          RecordPipeline.message(concat(col("event_type"), lit("\n")).cast("binary")))
          .as("line"))
    },

    // ---------------------------------------------------------------- Q33
    // Console sink, verbose projection (B4): inserts stream, shardId and
    // sequenceNumber between the timestamp and the message —
    // consumer.go:204-208. Shard identity is derived from user_id the way a
    // partition-keyed stream would spread users over 4 shards.
    Q("q33_console_verbose", Some("""
      SELECT event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') || ' events-stream shardId-' ||
        lpad(CAST(user_id % 4 AS VARCHAR), 12, '0') || ' ' ||
        CAST(event_id AS VARCHAR) || ' ' || event_type AS line
      FROM events""")) { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val recs = ev.select(
        col("event_id"),
        timestamp_micros(expr(Tables.tsUsSql(ev))).as("approximateArrivalTimestamp"),
        lit("events-stream").as("stream"),
        concat(lit("shardId-"),
          lpad((col("user_id") % 4).cast("string"), 12, "0")).as("shardId"),
        col("event_id").cast("string").as("sequenceNumber"),
        concat(col("event_type"), lit("\n")).cast("binary").as("data"))
      recs.select(col("event_id"), concat_ws(" ",
        RecordPipeline.arrivalTs(col("approximateArrivalTimestamp")),
        col("stream"), col("shardId"), col("sequenceNumber"),
        RecordPipeline.message(col("data"))).as("line"))
    },

    // ---------------------------------------------------------------- Q34
    // Produce-side partition keys (B2): the explicit-key branch and the
    // deterministic 32-hex-char variant (md5 of payload; the random-hex
    // branch has the same shape and is asserted by regex in ScalaTest —
    // producer.go:54-63).
    Q("q34_partition_key", Some("""
      SELECT doc_id, 'fixed-key' AS pkey_explicit, md5(text) AS pkey_det
      FROM documents""")) { (s, dir) =>
      Tables.t(s, dir, "documents").select(
        col("doc_id"),
        RecordPipeline.partitionKey(Some("fixed-key")).as("pkey_explicit"),
        RecordPipeline.partitionKeyDeterministic(col("text")).as("pkey_det"))
    },

    // ---------------------------------------------------------------- Q35
    // Stream-info table (B6): the 6-row name/created/encryption/retention/
    // active/closed key-value table over a literal shard set (2 open, 1
    // closed), with closed = ending sequence number present —
    // consumer.go:88-118.
    Q("q35_stream_info", Some("""
      WITH shards AS (SELECT * FROM (VALUES
          ('shardId-000000000000', CAST(NULL AS VARCHAR)),
          ('shardId-000000000001', CAST(NULL AS VARCHAR)),
          ('shardId-000000000002', 'seq-00042')) t(shard_id, ending_seq)),
        c AS (SELECT
          SUM(CASE WHEN ending_seq IS NULL THEN 1 ELSE 0 END) AS active,
          SUM(CASE WHEN ending_seq IS NOT NULL THEN 1 ELSE 0 END) AS closed
        FROM shards)
      SELECT 'Stream name:' AS k, 'events-stream' AS v
      UNION ALL SELECT 'Created at:', 'Tue, 02 Jan 2024 00:00:00 UTC'
      UNION ALL SELECT 'Encryption:', 'NONE'
      UNION ALL SELECT 'Retention:', '24 hours'
      UNION ALL SELECT 'Active:', CAST(active AS VARCHAR) || ' shards' FROM c
      UNION ALL SELECT 'Closed:', CAST(closed AS VARCHAR) || ' shards' FROM c""")) { (s, dir) =>
      val shards = StreamMeta.shards(s)
      val counts = shards.agg(
        sum(when(col("ending_seq").isNull, 1).otherwise(0)).as("active"),
        sum(when(col("ending_seq").isNotNull, 1).otherwise(0)).as("closed"))
      counts.select(explode(map(
        lit("Stream name:"), lit("events-stream"),
        lit("Created at:"), lit("Tue, 02 Jan 2024 00:00:00 UTC"),
        lit("Encryption:"), lit("NONE"),
        lit("Retention:"), lit("24 hours"),
        lit("Active:"), concat(col("active").cast("string"), lit(" shards")),
        lit("Closed:"), concat(col("closed").cast("string"), lit(" shards"))
      )).as(Seq("k", "v")))
    },

    // ---------------------------------------------------------------- Q36
    // Closed-shard filter (C2): shards are skipped at startup iff their
    // sequence-number range has an ending sequence number —
    // consumer.go:116-123.
    Q("q36_open_shards", Some("""
      SELECT shard_id FROM (VALUES
        ('shardId-000000000000', CAST(NULL AS VARCHAR)),
        ('shardId-000000000001', CAST(NULL AS VARCHAR)),
        ('shardId-000000000002', 'seq-00042')) t(shard_id, ending_seq)
      WHERE ending_seq IS NULL""")) { (s, dir) =>
      StreamMeta.shards(s).filter(col("ending_seq").isNull).select("shard_id")
    }
  )
}

/** Literal shard metadata shared by the stream-info queries and tests —
  * the 2-active/1-closed layout of consumer_test.go:121-143.
  */
object StreamMeta {
  def shards(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Seq(
      ("shardId-000000000000", None: Option[String]),
      ("shardId-000000000001", None: Option[String]),
      ("shardId-000000000002", Some("seq-00042")))
      .toDF("shard_id", "ending_seq")
  }
}
