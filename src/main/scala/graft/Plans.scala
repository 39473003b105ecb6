package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries into PLANS.md —
  * the plan-shape record backing the 100 TB design claims (pushdown, join
  * strategy, two-phase aggregation, top-k). Regenerate after plan-affecting
  * changes: `sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md"`.
  */
object Plans {
  private val headline: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "scan + two-phase hash aggregation, no sort, no shuffle beyond the 6-group exchange",
    "q2_filter_project" -> "filter + projection pushed into the parquet scan (PushedFilters / pruned columns)",
    "q13_topk_lineitems" -> "global top-k via TakeOrderedAndProject (per-partition heads, no full sort)",
    "q29_market_share" -> "8-table join DECLARED in selective order (stock Spark runs joins as written — CBO reorder is off): PROMO parts and ASIA customers reduce each fact via AQE-sized dim joins before the one fact-fact shuffle on the order key",
    "q17_grouping_sets" -> "grouping sets over PRE-AGGREGATED cells: the fact collapses to ~6 (flag, status) rows on the fixed-point sum kernel before the Expand, which multiplies 6 rows instead of the corpus",
    "q41_minhash_bands" -> "codegen'd graft_minhash16 signature scan — no UDF encoder boundary, no interpreted HOF, no shuffle",
    "q42_lsh_neardup" -> "MinHash band buckets as the join key — candidate pairs only, never all-pairs",
    "q53_asof_join" -> "as-of join composed from union + window carry-forward (no per-row probe)",
    "q59_salted_agg" -> "skew-safe two-phase aggregation over a salted key",
    "q70_stats_moments" -> "seven exact scaled-integer moment sums (hi/lo long split, no decimal in the hot path) in ONE scan + two-phase agg; statistics are a scalar epilogue",
    "q71_hash_sample" -> "deterministic sample predicate evaluated scan-side, below the aggregation",
    "q89_ivf_probe2" -> "multi-probe ANN: centroid table + probe set broadcast, corpus side never shuffles",
    "q97_substring_dup" -> "exact-substring dup: 20-shingle equality self-join — bucketed on the shingle, never all-pairs",
    "q90_interval_join" -> "stream-stream join's batch core: AQE broadcasts the filtered purchase side at this SF; at scale it becomes one shuffle on user_id (the state-store partitioning) with the time bound evaluated in-partition",
    "q114_dsir_select" -> "DSIR importance selection: source filter pushed to the scan, 256-bucket histogram broadcast with totals reusing its exchange, per-doc sum partial-aggregated before the only shuffle",
    "q115_boilerplate_scrub" -> "cross-doc boilerplate audit: 8-byte hashed shingle keys, frequent set broadcast by AQE, total+boilerplate counts fused into one aggregation",
    "q116_semdedup_resolve" -> "semantic dedup resolution: q108's capped LSH edge generation feeding the sparse-delta CC kernel — edges shuffle once on the band key, the closure moves only label deltas",
    "q86_robust_stats" -> "exact robust stats on the zero-shuffle rank-selection kernel: every pass a map-side-combining aggregate over one cached projection — no range partition, no sort, no corpus-sized exchange anywhere (the emitted plan is the driver-local epilogue; the heavy passes ran eagerly)",
    "q118_repetition_audit" -> "Gopher-style repetition audit: ONE map-only codegen'd pass — the native graft_gram_stats kernel computes all four per-doc statistics per row; no exchange, no explode, no windows",
    "q119_kmeans_step" -> "one exact Lloyd step, size-dispatched: a corpus of at most KmeansDriverVectors (15,625) rows is fetched once through a capped take and the seeds, assignment and means run on the driver, so the emitted plan is the local result; above the cap the assignment is MAP-ONLY — one argmin kernel call per row over the driver-collected centroid matrix — and only the k×64-group centroid update exchanges",
    "q123_kmeans_semdedup" -> "SemDeDup's published shape: map-only k-means assignment (corpus-derived sqrt-balanced k) as the candidate generator, ONE cluster-id shuffle into a per-cell dense pairwise kernel, sparse-delta CC, single-argmax quality keep",
    "q129_bm25_topk" -> "BM25 retrieval with ZERO corpus exchanges: per-doc tf in one graft_token_tf kernel call, corpus stats as a 1-row broadcast aggregate, global top-k via TakeOrderedAndProject",
    "q130_source_overlap" -> "exact cross-source Jaccard matrix: md5-folded 8-byte shingle keys into ONE vocab-sized exchange aggregating a codegen'd bit_or source bitmask, vocab collapsed to distinct co-occurrence patterns, checkpoint-fed |sources|-squared expansion",
    "q131_stupid_backoff" -> "leave-one-source-out trigram LM: backoff terms precomputed per distinct (trigram, source) behind checkpoints; the occurrence stream meets the term table as a SHUFFLE-HASH probe (sort-merge would sort the corpus by four string keys — A/B'd 24 vs 3.5 s at sf5) and aggregates per doc",
    "q150_stupid_backoff_cms" -> "q131's CMS scale path: six fixed-size sketches probed at count-table scale BEHIND the term checkpoint — the emitted scoring plan is bit-identical in shape to q131's (hash probe + doc agg), the audit costs the corpus-side plan nothing",
    "q132_heavy_hitters" -> "two-pass exact phi-heavy hitters: the Misra-Gries pass moved only k-bounded summaries (already run eagerly); the emitted plan is the audit — corpus scan through a broadcast semi on the guaranteed-superset candidates, one candidate-bounded agg exchange",
    "q133_containment_dedup" -> "Broder containment: one reused posting exchange serves the docfreq-cap window AND the pair self-join; true set sizes ride the posting rows so no sizes join-back exists",
    "q138_chunk_dedup" -> "CCNet-style paragraph dedup audit: non-overlapping 32-token chunk md5s, one map-side-combined chunk-frequency exchange, the join-back co-partitioned on the same hash, 11-row decile histogram — no window, no sort",
    "q139_minhash_calibration" -> "sketch-vs-truth calibration: signature AND shingle set computed in ONE per-doc projection (no sig-shingle join), q42's capped candidate join, exact-integer error bounds, 17-row output exchange",
    "q140_jl_projection" -> "Johnson-Lindenstrauss audit: literal +-1 sign matrix folded per row in whole-stage codegen — no matrix-table join, no window; the labels x anchors aggregate is the only exchange",
    "q141_bpe_encode" -> "BPE encode: per learned merge one vocab-sized pair-count exchange + a 1-row argmax + a map-only literal replace; the emitted plan is the per-source token-sum epilogue (merge learning ran eagerly) — the corpus never shuffles",
    "q142_chunk_scrub" -> "paragraph dedup transform: keeper argmin on the chunk hash, co-partitioned join-back, per-doc rebuild bounded by a document's own chunk count — no window, no corpus sort",
    "q144_training_funnel" -> "end-to-end shard prep: the emitted plan is five checkpoint-fed stage aggregates; exact dedup, LSH-CC quality keep, broadcast decontamination, and quality rules ran eagerly stage by stage",
    "q145_quality_sweep" -> "quality operating curve: one scoring scan, a 5-literal threshold explode collapsed map-side, |sources|-row totals broadcast back for exact micro-unit shares",
    "q148_ivf_recall_curve" -> "ANN recall dial: brute-force truth + three IVF probe arms, every join broadcast-sided, rank windows bounded by the 10-anchor set, 3-row output")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Tables.session(4)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` at `$sfDir` (local[4], AQE on). ")
    sb.append("Each section states the plan property the query is designed around;\n")
    sb.append("`PlanAuditSpec` asserts the load-bearing ones in CI.\n")
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
