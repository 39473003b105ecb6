package graft.streaming

import graft.kpl.KplCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The producer's KPL aggregation. The PutRecord path itself (SURVEY.md
  * §2 B1/B2/B5, D2) is the `graft-shards` sink
  * ([[graft.sources.ShardSpoolSink]]), which `graft.Cli produce` drives.
  */
object ProduceSink {

  /** Produce-side KPL aggregation — the reference's `--aggregated` flag is
    * parsed but never implemented (command/produce.go:26, README "under
    * development"); SURVEY §7.2 M3 chooses to implement it properly.
    *
    * Groups records by partition key, packs up to `maxPerRecord` payloads
    * into one framed KPL aggregate per group chunk. The output is
    * bit-compatible with [[graft.kpl.KplCodec.deaggregate]] (and the real
    * KPL wire format), so aggregate → produce → consume → deaggregate is an
    * identity. Runs as a batch transform (use inside `foreachBatch`):
    * one shuffle on the partition key, bounded state per group chunk.
    */
  def aggregateRecords(df: DataFrame, maxPerRecord: Int = 100): DataFrame = {
    val pack = udf { (keys: Seq[String], datas: Seq[Array[Byte]]) =>
      keys.zip(datas).grouped(maxPerRecord).map(KplCodec.aggregate).toSeq
    }
    df.groupBy(col("partitionKey"))
      .agg(collect_list(struct(col("partitionKey").as("k"), col("data").as("d"))).as("items"))
      .select(col("partitionKey"),
        explode(pack(expr("transform(items, x -> x.k)"),
          expr("transform(items, x -> x.d)"))).as("data"))
  }
}
