package graft.operators

import graft.{Lineage, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Embedding-column aggregation operators: per-label centroids and int8
  * scalar quantization — the storage/serving side of a vector pipeline
  * (cluster stats for IVF coarse quantizers; int8 codes shrink a 100 TB
  * embedding corpus 4× and are what a production ANN index stores).
  *
  * Oracle parity notes: float32 → double widening is exact in both engines
  * (`embedding::DOUBLE[]` / `CAST(... AS ARRAY<DOUBLE>)`); per-dimension
  * sums route through DECIMAL(18,9) so the reduction is order-independent;
  * quantization uses `floor` (exact) rather than engine-rounding CASTs.
  */
object VectorQueries {

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- Q77
    // Per-label centroids, one scalar row per (label, dimension): explode
    // the 64-dim vectors and two-phase aggregate. At scale this is a single
    // shuffle on (label, dim) with partial map-side sums — no vector ever
    // materializes on the driver.
    Q("q77_embed_centroids", Some("""
      SELECT label, CAST(i AS INT) AS dim,
        round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
          AS centroid,
        COUNT(*) AS n_vectors
      FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings), range(0, 64) t(i)
      GROUP BY label, i""")) { (s, dir) =>
      Tables.t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(
          (sum(col("x").cast(DecimalType(18, 9))).cast("double") / count(lit(1)))
            .as("raw"),
          count(lit(1)).as("n_vectors"))
        .select(col("label"), col("dim"), round(col("raw"), 6).as("centroid"),
          col("n_vectors"))
    },

    // ---------------------------------------------------------------- Q78
    // Int8 scalar quantization per vector: scale = max|x|, code_i =
    // floor(x_i * 127 / scale). Emits the STORED PAYLOAD itself — the full
    // int8 code vector, comma-joined to a string so the checker can hash
    // it cell-by-cell (its pandas sort can't order array cells) — plus
    // exact integer summaries (sum/min/max) and the rounded scale.
    // A zero vector (scale = 0) quantizes to all-zero codes by definition —
    // the CASE guard keeps the division away from 0/0 NaN, whose BIGINT
    // cast differs between engines. (The fixture has no zero vectors; a
    // real corpus can.)
    Q("q78_embed_quantize", Some("""
      WITH q AS (
        SELECT vec_id,
          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale,
          embedding::DOUBLE[] AS v
        FROM embeddings)
      SELECT vec_id, round(scale, 6) AS scale,
        array_to_string(list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END AS VARCHAR)), ',') AS codes,
        CAST(list_sum(list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END)) AS BIGINT) AS qsum,
        CAST(list_min(list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END)) AS BIGINT) AS qmin,
        CAST(list_max(list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END)) AS BIGINT) AS qmax
      FROM q""")) { (s, dir) =>
      // the int8 code array is PROJECTED once and codes/qsum/qmin/qmax
      // derive from the attribute reference — the r15 form inlined the
      // same transform(...) lambda four times, and interpreted HOFs get
      // no common-subexpression elimination (VERDICT r15 #5; A/B'd at
      // sf5, see BASELINE.md). The quantization expression itself is
      // unchanged, so the oracle stays bit-identical.
      Tables.t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), x -> abs(x)), CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))").as("scale"),
          col("embedding").cast("array<double>").as("v"))
        .selectExpr("vec_id", "scale",
          "transform(v, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(x * 127.0 / scale) AS BIGINT) END) AS q")
        .selectExpr("vec_id", "round(scale, 6) AS scale",
          "array_join(transform(q, c -> CAST(c AS STRING)), ',') AS codes",
          "CAST(aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT) AS qsum",
          "CAST(array_min(q) AS BIGINT) AS qmin",
          "CAST(array_max(q) AS BIGINT) AS qmax")
    },

    // ---------------------------------------------------------------- Q89
    // IVF top-k, MULTI-PROBE (probe=2) — the recall/cost knob q66 lacks:
    // each query probes its HOME cell (where probe-1 looks — so the
    // candidate set is a strict superset and recall can only grow, by
    // construction) plus the nearest FOREIGN cell by centroid squared-L2
    // (centroids = the q77 aggregation, reused as vectors). Per-query work
    // stays 2 cells, never the corpus. At scale: centroids are tiny
    // (|labels| × 64) and broadcast; the probe set (queries × 2)
    // broadcasts against the corpus, which shuffles on nothing — one
    // narrow scan scored per cell member, exactly like q66. Determinism
    // for the oracle: centroid values and distances round to 6 dp before
    // ranking, ties break on label / neighbor id; dot products share fold
    // order across engines.
    Q("q89_ivf_probe2", Some(s"""
      WITH $ivfHeadSql,
      ${ivfProbeSql("probe", "= 1")}
      SELECT query_id, neighbor_id, sim, rk FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
          round(list_dot_product(p.qv, c.v) / (p.qn * c.nrm), 6) AS sim,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY round(list_dot_product(p.qv, c.v) / (p.qn * c.nrm), 6) DESC,
                     c.vec_id) AS INT) AS rk
        FROM probe p JOIN n c ON c.label = p.label AND c.vec_id <> p.query_id) t
      WHERE rk <= 5""")) { (s, dir) => ivfTopK(s, dir, probes = 2) },

    // --------------------------------------------------------------- Q106
    // Embedding HYGIENE + normalization: the ingest guard in front of every
    // vector operator — recompute each vector's L2 norm exactly (squared
    // terms routed through DECIMAL so the reduction is order-independent,
    // the q77/q78 discipline), emit the unit-normalized vector as an exact
    // integer payload (floor(x/norm × 1e6) per dim, comma-joined — floor,
    // not round, so no engine tie-break can diverge), and flag degenerate
    // near-zero vectors instead of letting them NaN a cosine downstream
    // (a zero vector yields an all-zero payload by definition, same guard
    // as q78's zero-scale branch). Scale shape: pure narrow projection
    // over the scan — no shuffle, no explode; the 100 TB form is a
    // map-only pass.
    Q("q106_embed_normalize", Some("""
      WITH s AS (
        SELECT vec_id,
          CAST(list_sum(list_transform(embedding::DOUBLE[],
            x -> CAST(x * x AS DECIMAL(26,12)))) AS DOUBLE) AS sumsq,
          embedding::DOUBLE[] AS v
        FROM embeddings)
      SELECT vec_id,
        CAST(floor(sqrt(sumsq) * 1000000) AS BIGINT) AS l2_norm_micro,
        sumsq < 0.000001 AS degenerate,
        CASE WHEN sumsq < 0.000001
          THEN array_to_string([0 for x in v], ',')
          ELSE array_to_string(list_transform(v,
            x -> CAST(floor(x / sqrt(sumsq) * 1000000) AS BIGINT)), ',')
        END AS unit_payload
      FROM s""")) { (s, dir) =>
      Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .selectExpr("vec_id", "v",
          """CAST(aggregate(v, CAST(0 AS DECIMAL(26,12)),
               (a, x) -> CAST(a + CAST(x * x AS DECIMAL(26,12)) AS DECIMAL(26,12)))
             AS DOUBLE) AS sumsq""")
        .selectExpr("vec_id",
          "CAST(floor(sqrt(sumsq) * 1000000) AS BIGINT) AS l2_norm_micro",
          "sumsq < 0.000001 AS degenerate",
          """CASE WHEN sumsq < 0.000001
               THEN array_join(transform(v, x -> '0'), ',')
               ELSE array_join(transform(v,
                 x -> CAST(CAST(floor(x / sqrt(sumsq) * 1000000) AS BIGINT) AS STRING)), ',')
             END AS unit_payload""")
    },

    // --------------------------------------------------------------- Q108
    // Random-hyperplane LSH near-dup over embeddings — the 100 TB scale
    // path for q46. q46's IVF cells are a FIXED coarse partition (10
    // labels), so its within-cell all-pairs join is quadratic in cell size
    // as the corpus grows (the sf1 run measures q46 growing 13× for 10×
    // vectors). Here candidates come from sign-pattern buckets instead:
    // 128 deterministic hyperplanes (components derived from md5(p:d), so
    // both engines build the identical matrix), signature = 128 projection
    // signs, banded ⌊128/bits⌋ × [[hyperplaneBandBits]] bits (8×16 at
    // every fixture scale) — a cosine-0.99 planted pair agrees on a
    // 16-bit band with p≈0.48, so ≥1 of 8 bands hits with p≈0.995, while a
    // cosine-0.5 random pair passes a band with p≈0.0015 — then the same
    // capped-bucket-equality join + exact cosine ≥ 0.9 verification as the
    // text-LSH family. Projections run in the codegen'd
    // `graft_hyperplane_sig` kernel: ascending double dot products, the
    // same order as DuckDB's list_dot_product (the VectorDot contract), so
    // the sign bits are bit-equal across engines. Bucket count grows with
    // the corpus (2^16 values per band), so candidates collapse vs q46's
    // Σcell² — measured 397× fewer at sf1 (DEDUP_CANDIDATES_r08.json:
    // 55.7k vs 22.1M; q46 grew exactly 100× for 10× vectors). The
    // residual n²·2⁻ᵇⁱᵗˢ·bands random-collision term every sign-LSH
    // carries is bounded by the corpus-size band-width knob: both engines
    // widen bands to ceil(log₂ n)+2 bits past 2¹⁶ vectors (the oracle's
    // `params` CTE mirrors [[hyperplaneBandBits]]), keeping the term
    // ≤ n·bands/4 — linear — at any scale. Unlike q46 this also surfaces
    // cross-cell near-dups.
    Q("q108_embed_lsh_neardup", Some(s"""
      WITH base AS ($plantedBaseSql),
      $lshCandSql
      SELECT vec_id1, vec_id2,
        round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
      FROM cand JOIN n a ON vec_id1 = a.vec_id JOIN n b ON vec_id2 = b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.9""")) {
      (s, dir) =>
      lshSimPairs(withNrm(plantedBase(s, dir)))
    },

    // --------------------------------------------------------------- Q116
    // SemDeDup-style SEMANTIC dedup resolution ("SemDeDup", Abbas et al.
    // 2023): near-duplicate EMBEDDINGS resolved to one representative per
    // semantic cluster — the embedding-space analogue of q87's text CC.
    // Edges are q108's bounded hyperplane-LSH near-dup pairs (cosine >=
    // 0.9 after the capped band join — never all-pairs) over a corpus
    // with TWO planted variant arms, so some originals carry two
    // near-copies and the closure genuinely merges multi-member clusters;
    // the transitive closure runs on the same sparse-delta label
    // propagation kernel as q87 (star-free symmetric pair edges here —
    // the LSH verify already emitted exactly the near-dup pairs), and
    // `kept` marks each cluster's min-id representative. The oracle is
    // the exact recursive closure over the SQL-reproduced LSH edge set.
    // 100 TB posture: edge generation is q108's (measured linear in
    // DEDUP_CANDIDATES), the CC loop moves only label deltas per round.
    Q("q116_semdedup_resolve", Some(s"""
      WITH RECURSIVE base AS ($semBaseSql),
      $semClosureSql
      SELECT src AS vec_id, MIN(dst) AS canonical, src = MIN(dst) AS kept
      FROM reach GROUP BY src""")) { (s, dir) =>
      val corpus = semCorpus(s, dir)
      LlmQueries
        .labelPropagation(corpus.select(col("vec_id").as("doc_id")),
          symEdges(lshSimPairs(corpus)))
        ._1
        .select(col("doc_id").as("vec_id"), col("canonical"), col("kept"))
    },

    // --------------------------------------------------------------- Q117
    // SemDeDup resolution, QUALITY-AWARE keep (the q103 policy over q116's
    // embedding clusters): production pipelines keep each semantic
    // cluster's BEST member, not min(vec_id). Quality here is the exact
    // integer L2-norm micro score (q106's arithmetic — squared terms
    // routed through DECIMAL, floor(sqrt·10⁶) — so both engines agree
    // bit-for-bit; swap in any per-vector score a real pipeline carries,
    // e.g. a model-based embedding-quality head). The reduction is
    // [[LlmQueries.keepBest]]'s single argmax aggregation —
    // max(struct(quality, -vec_id)) per cluster, tie → min vec_id — no
    // window, no sort, ONE map-side-combining shuffle on the cluster id
    // beyond the CC pass. 100 TB posture identical to q116: bounded LSH
    // edges, sparse-delta CC, and the quality scan is a map-only pass
    // over the corpus joined delta-sized onto the cluster labels.
    Q("q117_semdedup_keep_best", Some(s"""
      WITH RECURSIVE base AS ($semBaseSql),
      $semClosureSql,
      cc AS (SELECT src AS vec_id, MIN(dst) AS canonical FROM reach GROUP BY src),
      $semQualSql,
      m AS (SELECT cc.vec_id, cc.canonical, qual.quality
            FROM cc JOIN qual USING (vec_id)),
      mx AS (SELECT canonical, MAX(quality) AS max_quality, COUNT(*) AS n_members
             FROM m GROUP BY canonical)
      SELECT m.canonical AS cluster_id, MIN(m.vec_id) AS keep_id,
             mx.max_quality, mx.n_members
      FROM m JOIN mx ON m.canonical = mx.canonical AND m.quality = mx.max_quality
      GROUP BY m.canonical, mx.max_quality, mx.n_members""")) { (s, dir) =>
      semDedupKeepBest(semCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q119
    // One exact k-means (Lloyd) step over the embedding corpus — the
    // clustering primitive under SemDeDup-style pipelines (Abbas et al.
    // 2023 cluster before deduplicating) and domain-discovery mixes:
    // deterministic hash-seeded centroids (the k non-null vectors with
    // the lowest md5(vec_id) — reproducible across engines AND cluster
    // re-runs, the q71 sampling argument), nearest-centroid assignment,
    // and the exact recomputed per-dimension centroid means. 100 TB
    // posture: the k seed vectors collect to the driver (k×64 doubles)
    // and assignment is a MAP-ONLY
    // pass — dist² = v·v − 2·v·c + c·c per seed as literal-embedded
    // codegen'd `graft_vector_dot` expressions, argmin via one
    // `array_min` over (round(d2, 6), c_id) structs, no join and no
    // shuffle of the corpus; the update is q77's decimal-routed
    // dimension-exploded mean, partial-aggregating to k×64 groups
    // map-side before its only shuffle. The oracle replays the identical
    // seed rule, distance arithmetic (list_dot_product — the q45
    // fold-order contract), and rounding-then-id tie-break.
    Q("q119_kmeans_step", Some("""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      seeds AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE v IS NOT NULL
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      asg AS (
        SELECT b.vec_id, b.v, s.c_id,
          row_number() OVER (PARTITION BY b.vec_id ORDER BY
            round(list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, s.cv)
                  + list_dot_product(s.cv, s.cv), 6), s.c_id) AS rk
        FROM base b CROSS JOIN seeds s)
      SELECT c_id AS cluster, CAST(i AS INT) AS dim,
        round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
          AS centroid,
        COUNT(*) AS n_vectors
      FROM (SELECT vec_id, v, c_id FROM asg WHERE rk = 1) sel, range(0, 64) t(i)
      GROUP BY c_id, i""")) { (s, dir) =>
      kmeansStep(Tables.t(s, dir, "embeddings"))
    },

    // --------------------------------------------------------------- Q120
    // ITERATED exact k-means (3 Lloyd passes) — q119 run to a useful
    // clustering: centroids move, the data never does. Between passes the
    // k×64 ROUNDED means round-trip through the driver and are embedded
    // as the next pass's literal centroids, so every assignment stays
    // map-only at any corpus size; the only per-iteration exchange is
    // the k×64-group mean aggregate. The oracle unrolls the identical
    // three passes as chained CTEs, rebuilding each pass's centroid
    // lists with list(c ORDER BY i) and re-assigning with the same
    // rounded-distance + c_id tie-break. Because both engines re-read
    // the same 6-dp-rounded means, the iteration is bit-stable end to
    // end — no float drift can accumulate across passes.
    Q("q120_kmeans_iterate", Some(s"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmTwoPassSql("8")},
      ${kmAsgSql("base", "cl2", "asg3")}
      SELECT c_id AS cluster, CAST(i AS INT) AS dim,
        round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
          AS centroid,
        COUNT(*) AS n_vectors
      FROM asg3, range(0, 64) t(i) GROUP BY c_id, i""")) { (s, dir) =>
      kmeansIterate(Tables.t(s, dir, "embeddings"), k = 8, iters = 3)
    },

    // --------------------------------------------------------------- Q122
    // Embedding OUTLIER scrub — distance-to-own-centroid z-score per
    // label, the embedding-space data-QA sweep (mislabeled / corrupted /
    // off-manifold vectors sit far from their cluster's centroid; the
    // 2σ Tukey-style fence marks them for review before training). Per
    // label: exact decimal-routed centroid (q77 arithmetic), each
    // vector's rounded d² to its OWN centroid (map-only — label-bounded
    // literal centroid arrays, codegen'd graft_vector_dot), exact
    // decimal moment sums of d² (the q70 idiom: per-row products in
    // IEEE double, aggregation in DECIMAL so the parallel sum is
    // order-free), then mean/σ/fence evaluated with IDENTICAL double
    // expression text on both engines. Output is one row per label —
    // counts, moments, outlier count, max. 100 TB posture: two map-only
    // scans (stats, then fence counts against broadcast thresholds) and
    // label-bounded aggregates; nothing corpus-sized shuffles.
    Q("q122_embed_outliers", Some("""
      WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT label, i,
          round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS c
        FROM base, range(0, 64) t(i) GROUP BY label, i),
      cl AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
      d AS (SELECT b.vec_id, b.label,
          round(list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, cl.cv)
                + list_dot_product(cl.cv, cl.cv), 6) AS d2
        FROM base b JOIN cl USING (label)),
      m AS (SELECT label, COUNT(*) AS n,
          CAST(SUM(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE) AS sd_,
          CAST(SUM(CAST(d2 * d2 AS DECIMAL(28,10))) AS DOUBLE) AS sdd
        FROM d GROUP BY label)
      SELECT d.label, m.n AS n_vectors,
        round(m.sd_ / m.n, 6) AS mean_d2,
        round(sqrt(greatest(m.sdd / m.n - (m.sd_ / m.n) * (m.sd_ / m.n), 0.0)), 6) AS sd_d2,
        CAST(SUM(CASE WHEN d.d2 > m.sd_ / m.n
              + 2 * sqrt(greatest(m.sdd / m.n - (m.sd_ / m.n) * (m.sd_ / m.n), 0.0))
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        round(MAX(d.d2), 6) AS max_d2
      FROM d JOIN m USING (label)
      GROUP BY d.label, m.n, m.sd_, m.sdd""")) { (s, dir) =>
      embedOutliers(Tables.t(s, dir, "embeddings"))
    },

    // --------------------------------------------------------------- Q123
    // k-means-clustered SemDeDup — the published pipeline shape (cluster
    // with k-means, THEN dedup within clusters), composing q120's
    // iterated assignment with q117's quality-aware keep: the k-means
    // partition replaces q116's hyperplane LSH as the candidate
    // generator, pairs verify by exact cosine >= 0.9, semantic groups
    // close transitively, and each group keeps its highest-quality
    // member. Runs over the same planted two-arm variant corpus as
    // q116/q117, so the planted near-dups are known-findable: a variant
    // differs from its original in one zeroed dimension, lands in the
    // same k-means cell (nearest-centroid is robust to a 1-dim
    // perturbation), and cosine ~0.99 passes the gate. See
    // [[kmeansSemDedup]] for the plan-shape / 100 TB discussion. The
    // oracle runs q120's 3 Lloyd passes ([[kmTwoPassSql]] with the
    // corpus-derived k, then the third assignment), then the within-cell
    // pair join, recursive closure, and q117's quality-argmax tail.
    Q("q123_kmeans_semdedup", Some(s"""
      WITH RECURSIVE base AS ($semBaseSql),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      ${kmTwoPassSql(semDedupKSql("base"))},
      ${kmAsgSql("base", "cl2", "asg3")},
      sims AS (
        SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2
        FROM asg3 a JOIN asg3 b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        JOIN n na ON a.vec_id = na.vec_id JOIN n nb ON b.vec_id = nb.vec_id
        WHERE round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) >= 0.9),
      $semReachSql,
      cc AS (SELECT src AS vec_id, MIN(dst) AS canonical FROM reach GROUP BY src),
      $semQualSql,
      m AS (SELECT cc.vec_id, cc.canonical, qual.quality, asg3.c_id
            FROM cc JOIN qual USING (vec_id) JOIN asg3 USING (vec_id)),
      mx AS (SELECT canonical, MAX(quality) AS max_quality, COUNT(*) AS n_members,
                    MIN(c_id) AS km_cluster
             FROM m GROUP BY canonical)
      SELECT m.canonical AS cluster_id, mx.km_cluster, MIN(m.vec_id) AS keep_id,
             mx.max_quality, mx.n_members
      FROM m JOIN mx ON m.canonical = mx.canonical AND m.quality = mx.max_quality
      GROUP BY m.canonical, mx.km_cluster, mx.max_quality, mx.n_members""")) {
      (s, dir) =>
      kmeansSemDedup(semCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q128
    // Hard-triplet mining for contrastive training: for each anchor in a
    // bounded query set, the hardest POSITIVE (same label, LOWEST cosine —
    // the same-class pair the model most confuses) and the hardest
    // NEGATIVE (different label, HIGHEST cosine — the impostor). The
    // anchor set broadcasts, the corpus streams through ONE scan, and the
    // per-anchor argmin/argmax collapse into a single bounded aggregate
    // via lexicographic struct min/max — no window, no corpus shuffle
    // (PlanAuditSpec pins broadcast-join + single-agg shape). min(struct(
    // sim, vec_id)) == ORDER BY sim ASC, vec_id ASC LIMIT 1; max(struct(
    // sim, -vec_id)) == ORDER BY sim DESC, vec_id ASC LIMIT 1 — exactly
    // the oracle's two row_number subqueries. Similarity rounds to 6 dp
    // before ranking (the q45 determinism idiom).
    Q("q128_hard_triplets", Some("""
      WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                     AS nrm
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
            FROM n WHERE vec_id < 8),
      scored AS (SELECT q.query_id, q.qlabel, c.vec_id, c.label,
                   round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 6) AS sim
                 FROM q JOIN n c ON c.vec_id <> q.query_id),
      pos AS (SELECT query_id, vec_id, sim,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY sim ASC, vec_id) AS r
              FROM scored WHERE label = qlabel),
      neg AS (SELECT query_id, vec_id, sim,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, vec_id) AS r
              FROM scored WHERE label <> qlabel)
      SELECT p.query_id, p.vec_id AS hard_pos_id, p.sim AS hard_pos_sim,
             g.vec_id AS hard_neg_id, g.sim AS hard_neg_sim
      FROM pos p JOIN neg g ON p.query_id = g.query_id
      WHERE p.r = 1 AND g.r = 1""")) { (s, dir) =>
      hardTriplets(Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS double))").as("v")))
    },

    // --------------------------------------------------------------- Q135
    // Centroid-silhouette audit of the q120 k-means clustering — see
    // [[kmeansSilhouette]] for the method, ambiguity semantics, and the
    // map-only 100 TB shape. The oracle runs q120's first two Lloyd
    // passes ([[kmTwoPassSql]]), then scores every vector
    // against the FINAL centroid table with the same rounded-d² /
    // (d², c_id) ranking: rk=1 is the assignment (a), rk=2 the runner-up
    // (b), s = (b − a) / max(a, b) rounded at 6 dp, means decimal-routed.
    Q("q135_kmeans_silhouette", Some(s"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmTwoPassSql("8")},
      d AS (SELECT b.vec_id, s.c_id,
              round(list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, s.cv)
                    + list_dot_product(s.cv, s.cv), 6) AS d2
            FROM base b CROSS JOIN cl2 s),
      r AS (SELECT vec_id, c_id, d2,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rk
            FROM d),
      ab AS (SELECT vec_id,
               MAX(CASE WHEN rk = 1 THEN c_id END) AS cluster,
               MAX(CASE WHEN rk = 1 THEN d2 END) AS a,
               MAX(CASE WHEN rk = 2 THEN d2 END) AS b
             FROM r WHERE rk <= 2 GROUP BY vec_id),
      sil AS (SELECT cluster,
                CASE WHEN greatest(a, b) <= CAST(0 AS DOUBLE)
                     THEN CAST(0 AS DOUBLE)
                     ELSE round((b - a) / greatest(a, b), 6) END AS s
              FROM ab)
      SELECT cluster, COUNT(*) AS n_vectors,
        round(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
          AS mean_sil,
        round(MIN(s), 6) AS min_sil,
        CAST(SUM(CASE WHEN s < CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_boundary
      FROM sil GROUP BY cluster""")) { (s, dir) =>
      kmeansSilhouette(Tables.t(s, dir, "embeddings"))
    },

    // --------------------------------------------------------------- Q140
    // Johnson–Lindenstrauss random projection + distance-preservation
    // audit: project the 64-d corpus to 16-d with a deterministic ±1
    // (Rademacher) matrix — the Achlioptas (2001) database-friendly JL
    // construction — and audit how well squared distances to 4 fixed
    // anchor points survive (E[d²_proj] = k·d²_orig for a ±1 matrix, so
    // the audit checks |d²_proj − 16·d²_orig| ≤ ½·16·d²_orig,
    // cross-multiplied in integers). This is the dimensionality-reduction
    // step that makes 100 TB ANN/clustering affordable (4× fewer floats
    // per vector BEFORE quantization), and the audit is the go/no-go
    // signal for how aggressively k can shrink. Exactness: vectors
    // quantize to integer micro-units (floor(x·10⁶), exact in IEEE), the
    // sign matrix and anchors are Scala-derived LITERALS interpolated
    // into both plans, and every sum/square/bound is 64-bit integer
    // arithmetic — no cross-engine float channel except the final ratio,
    // a single identical double-division sequence (the q127 idiom).
    // Plan shape: ONE map-only scan (quantize → 16 zip_with folds →
    // 4 inline anchor structs), then a ≤(labels×4)-row aggregate. No
    // join, no window, nothing corpus-sized moves (PlanAuditSpec pins
    // it).
    Q("q140_jl_projection", Some(jlOracleSql)) { (s, dir) =>
      jlProjectionAudit(Tables.t(s, dir, "embeddings"))
    },

    // --------------------------------------------------------------- Q148
    // IVF recall curve — the ANN operating dial: exact top-5 per anchor
    // (brute force, the ground truth) vs the q66/q89 IVF pipeline at
    // probes 1 / 2 / 3, reported as matched-neighbor counts and exact
    // micro-unit recall per probe count. This is the measurement that
    // decides how many cells a production index must probe for its
    // recall SLO — the curve is monotone by construction (probe sets
    // nest). Shuffle budget: the anchor set broadcasts everywhere, the
    // corpus streams once per probe arm plus once for the truth, all
    // rank windows partition by the 10 anchors (bounded), and the
    // output is 3 rows. Similarities round at 6 dp before ranking on
    // BOTH sides (the q45 idiom), so ranks — and therefore recall — are
    // bit-stable cross-engine.
    Q("q148_ivf_recall_curve", Some(ivfRecallOracleSql)) { (s, dir) =>
      ivfRecallCurve(s, dir)
    }
  )

  /** q128 kernel: hardest positive / hardest negative per anchor over a
    * (vec_id, label, v: array&lt;double&gt;) corpus. The anchor set
    * (`vec_id < nAnchors`) broadcasts; the corpus streams through one
    * scan; per-anchor selection is a single aggregate of lexicographic
    * struct extremes — min(struct(sim, vec_id)) keeps the LOWEST
    * same-label cosine with the smallest id on ties, max(struct(sim,
    * -vec_id)) the HIGHEST other-label cosine with the smallest id on
    * ties. Anchors with no positive or no negative peer drop (the
    * oracle's inner join).
    */
  def hardTriplets(emb: DataFrame, nAnchors: Int = 8): DataFrame = {
    val n = emb.withColumn("nrm", sqrt(expr("graft_vector_dot(v, v)")))
    val q = n.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        round(expr("graft_vector_dot(qv, v)") / (col("qn") * col("nrm")), 6)
          .as("sim"))
    scored.groupBy("query_id")
      .agg(
        min(when(col("label") === col("qlabel"),
          struct(col("sim"), col("vec_id")))).as("p"),
        max(when(col("label") =!= col("qlabel"),
          struct(col("sim"), (-col("vec_id")).as("nid")))).as("g"))
      .filter(col("p").isNotNull && col("g").isNotNull)
      .select(col("query_id"),
        col("p.vec_id").as("hard_pos_id"), col("p.sim").as("hard_pos_sim"),
        (-col("g.nid")).as("hard_neg_id"), col("g.sim").as("hard_neg_sim"))
  }

  /** q122 kernel: per-label centroid (collected — labels are bounded),
    * map-only own-centroid d², exact decimal moment sums, fence counts
    * in a second map-only pass against thresholds evaluated with the
    * oracle's exact double expression text (a local frame, the q86
    * fences idiom). Returns one row per label.
    */
  def embedOutliers(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val base = emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS double))").as("v"))
    val cents = graft.Bounded.collect(
      base
        .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(round(sum(col("x").cast(DecimalType(18, 9))).cast("double") /
          count(lit(1)), 6).as("c")),
      cap = 256 * 64, what = "q122 per-label centroid table (≤256 labels × 64 dims)")
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val labels = cents.keys.toSeq.sorted
    def arrLit(cv: Seq[Double]): String =
      "array(" + cv.map(x => s"${x}D").mkString(", ") + ")"
    val ccs = graft.Bounded.one(s.range(1).select(labels.map { l =>
      expr(s"graft_vector_dot(${arrLit(cents(l))}, ${arrLit(cents(l))})").as(s"cc$l")
    }: _*), "q122 centroid self-dot row")
    val d2Col = labels.zipWithIndex.foldLeft(lit(Double.NaN)) { case (acc, (l, i)) =>
      when(col("label") === l,
        round(expr("graft_vector_dot(v, v)")
          - lit(2.0) * expr(s"graft_vector_dot(v, ${arrLit(cents(l))})")
          + lit(ccs.getDouble(i)), 6)).otherwise(acc)
    }
    val d = base.withColumn("d2", d2Col)
    val stats = d.groupBy("label")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE)").as("sd_"),
        expr("CAST(SUM(CAST(d2 * d2 AS DECIMAL(28,10))) AS DOUBLE)").as("sdd"))
      // fence evaluated ON A LOCAL FRAME with the oracle's expression text
      .selectExpr("label", "n", "sd_", "sdd",
        """sd_ / n + 2 * sqrt(greatest(sdd / n - (sd_ / n) * (sd_ / n), 0.0))
           AS thr""")
    val stats2 = graft.Bounded.collect(stats, cap = 256,
      what = "q122 per-label fence stats")
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val thrCol = stats2.foldLeft(lit(Double.NaN)) { case (acc, (l, _, _, _, thr)) =>
      when(col("label") === l, lit(thr)).otherwise(acc)
    }
    val fences = d
      .groupBy("label")
      .agg(sum(when(col("d2") > thrCol, 1L).otherwise(0L)).as("n_outliers"),
        round(max(col("d2")), 6).as("max_d2"))
    val statsDf = stats2.toSeq.map { case (l, n, sd_, sdd, _) => (l, n, sd_, sdd) }
      .toDF("label", "n", "sd_", "sdd")
      .selectExpr("label", "n AS n_vectors",
        "round(sd_ / n, 6) AS mean_d2",
        "round(sqrt(greatest(sdd / n - (sd_ / n) * (sd_ / n), 0.0)), 6) AS sd_d2")
    statsDf.join(fences, "label")
      .select(col("label"), col("n_vectors"), col("mean_d2"), col("sd_d2"),
        col("n_outliers"), col("max_d2"))
  }

  /** One oracle-side Lloyd assignment pass: nearest centroid by the
    * rounded-distance + c_id tie-break (the q45 contract arithmetic).
    */
  private def kmAsgSql(src: String, cents: String, out: String): String = s"""
      $out AS (SELECT vec_id, v, c_id FROM (
        SELECT b.vec_id, b.v, s.c_id,
          row_number() OVER (PARTITION BY b.vec_id ORDER BY
            round(list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, s.cv)
                  + list_dot_product(s.cv, s.cv), 6), s.c_id) AS rk
        FROM $src b CROSS JOIN $cents s) q WHERE rk = 1)"""

  /** One oracle-side centroid update: q77's decimal-routed rounded mean. */
  private def kmCentSql(asg: String, cent: String): String = s"""
      $cent AS (SELECT c_id, i,
          round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS c
        FROM $asg, range(0, 64) t(i) GROUP BY c_id, i)"""

  /** Rebuild centroid lists from the per-dimension mean rows. */
  private def kmListSql(cent: String, cl: String): String = s"""
      $cl AS (SELECT c_id, list(c ORDER BY i) AS cv FROM $cent GROUP BY c_id)"""

  /** The oracle's k-means over a `base` CTE of (vec_id, v) up to the
    * third pass: the `seeds` (the `k` non-null vectors with the smallest
    * md5(vec_id), vec_id tie-break), then two Lloyd passes ending in the
    * centroid lists `cl2`. q120 and q123 assign once more against
    * `cl2`; q135 scores against it.
    */
  private def kmTwoPassSql(k: String): String = s"""
      seeds AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE v IS NOT NULL
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
      ${kmAsgSql("base", "seeds", "asg1")},
      ${kmCentSql("asg1", "cent1")},
      ${kmListSql("cent1", "cl1")},
      ${kmAsgSql("base", "cl1", "asg2")},
      ${kmCentSql("asg2", "cent2")},
      ${kmListSql("cent2", "cl2")}"""

  /** q119 kernel: one exact Lloyd iteration. Seeds = the k non-null
    * corpus vectors with the lexicographically smallest md5(vec_id)
    * (vec_id tie-break) — deterministic, engine-portable, and
    * unclustered-data-safe (md5 scatters ids, so seeds are an unbiased
    * sample; k-means++ would need engine-identical weighted sampling,
    * which floats forbid). Assignment
    * is the nearest seed by dist² rounded to 6 dp with c_id tie-break
    * ([[graft.plans.KmeansKernel.argmin]], the list_dot_product
    * fold-order contract of q45); the centroid update is the q77
    * decimal-routed mean over the dimensions. Returns
    * (cluster, dim, centroid, n_vectors) — k×64 rows. Runs as
    * [[kmeansIterate]] with one pass, so the same size dispatch applies.
    */
  def kmeansStep(emb: DataFrame, k: Int = 8): DataFrame =
    kmeansIterate(emb, k, iters = 1)

  /** Vectors a k-means call fetches whole for the driver finish: half of
    * [[LlmQueries.DriverRows]] doubles' worth at the corpus's 64-dim
    * width — 15,625 vectors, 8 MB of doubles. The full figure (31,250
    * vectors) was measured against the loop on 4 cores: there the driver
    * finish lost by a few percent at k = 73, its per-pass argmin running
    * on one core, while at 16,000 vectors it was faster at k = 8 and 73.
    * A constant, so it never reads a LlmQueries still initializing (the
    * two objects reach each other through their query lists).
    */
  final val KmeansDriverVectors = LlmQueries.DriverRows / 128

  /** q120 kernel (and q119's core with `iters = 1`): exact Lloyd
    * iterations. Returns the FINAL pass's (cluster, dim, centroid,
    * n_vectors). Every pass assigns each vector to its nearest current
    * centroid and recomputes the decimal-routed per-dimension means,
    * rounded to 6 dp — the output discipline, so the centroids the next
    * pass reads are bit-stable across engines. A cluster that loses all
    * members has no mean row and drops out of later passes.
    *
    * A size dispatch over two paths with identical output (VectorSpec
    * pins them equal):
    *  - DRIVER FINISH, when the corpus has at most [[KmeansDriverVectors]]
    *    rows: ONE capped fetch of (vec_id, v), then the seeds, every
    *    pass and the final means on the driver, returned as a local
    *    frame. The loop below pays a driver round trip per pass, each
    *    planning a k×64-literal centroid expression; at these sizes the
    *    round trips are the whole cost, and one fetch replaces them.
    *  - DISTRIBUTED LOOP otherwise ([[kmeansCentroidsLoop]], then one
    *    map-only assignment pass and the k×64-group mean aggregate). The
    *    corpus is never shuffled; per pass only k×64 means move.
    * The cap is a property of the input (its row count), not a setting.
    */
  def kmeansIterate(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val base = kmBase(emb)
    kmFetch(base, _ => k) match {
      case Some(c) =>
        val rows = c.pass(c.centroids(iters)).map { case (cid, dim, m, n) =>
          org.apache.spark.sql.Row(cid, dim, m, n)
        }
        base.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), kmMeansSchema(base))
      case None => kmeansIterateLoop(emb, k, iters)
    }
  }

  /** [[kmeansIterate]]'s distributed path, whatever the corpus size (the
    * specs pin the two paths equal through it).
    */
  private[graft] def kmeansIterateLoop(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = kmBase(emb)
    kmMeans(argminAssign(base, kmeansCentroidsLoop(base, k, iters)))
  }

  /** (vec_id, v): the embedding widened to doubles, as every k-means
    * kernel reads it.
    */
  private def kmBase(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS double))").as("v"))
  }

  /** The q77/q119 decimal-routed rounded per-dimension mean over an
    * assignment (needs `cluster` and `v`): k×64 groups, partial map-side
    * sums, the only exchange in a Lloyd pass.
    */
  private def kmMeans(asg: DataFrame): DataFrame =
    asg.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") / count(lit(1)))
        .as("raw"), count(lit(1)).as("n_vectors"))
      .select(col("cluster"), col("dim"), round(col("raw"), 6).as("centroid"),
        col("n_vectors"))

  /** [[kmMeans]]'s schema over `base`, for the driver finish's local
    * frame: the kernel's cluster id is null exactly where `v` is.
    */
  private def kmMeansSchema(base: DataFrame) = StructType(Seq(
    StructField("cluster", LongType, nullable = base.schema("v").nullable),
    StructField("dim", IntegerType, nullable = false),
    StructField("centroid", DoubleType),
    StructField("n_vectors", LongType, nullable = false)))

  /** Final-pass Lloyd ASSIGNMENT after `iters` passes over a prepared
    * `base` with `vec_id` and double-array `v` (extra columns ride
    * along): returns `base`'s columns plus `cluster`. This is the
    * composition seam q123 builds on, with k derived from the corpus row
    * count — the assignment, not just the means, is the useful product
    * of k-means in a SemDeDup-shaped pipeline. Same arithmetic contract
    * as [[kmeansIterate]]; the centroids come from [[kmeansCentroids]]'s
    * size dispatch and the final assignment is always the distributed
    * map-only pass.
    */
  def kmeansAssign(base: DataFrame, k: Long => Int, iters: Int): DataFrame =
    argminAssign(base, kmeansCentroids(base, k, iters))

  /** Literal double-array SQL rendering — Double.toString round-trips
    * exactly, so a driver-collected centroid re-enters the plan with the
    * identical bit pattern. */
  private def dArr(xs: Seq[Double]): String =
    "array(" + xs.map(x => s"${x}D").mkString(",") + ")"

  /** The centroids the last assignment pass of [[kmeansAssign]] uses:
    * seeds = the k non-null corpus vectors with the smallest md5(vec_id)
    * (vec_id tie-break), then `iters − 1` mean updates. Exposed so
    * silhouette/diagnostic passes can score against exactly the
    * centroids the assignment saw. `k` maps the corpus row count n to
    * the number of seeds: the driver finish reads n off its fetch, so
    * only the loop pays a count. The same size dispatch as
    * [[kmeansIterate]]: a corpus of at most [[KmeansDriverVectors]] rows
    * is fetched once and the updates run on the driver; a larger one
    * runs [[kmeansCentroidsLoop]].
    */
  private[graft] def kmeansCentroids(base: DataFrame, k: Long => Int,
      iters: Int): Seq[(Long, Seq[Double])] =
    kmFetch(base, k) match {
      case Some(c) => c.centroids(iters)
      case None => kmeansCentroidsLoop(base, k(base.count()), iters)
    }

  /** The distributed centroid loop behind [[kmeansCentroids]], for
    * corpora over [[KmeansDriverVectors]]: the seed rows are one capped
    * fetch, and each mean update is a k×64-group aggregate whose
    * 6-dp-rounded means round-trip the driver and re-enter the next
    * pass as literals (the q120 bit-stability contract).
    */
  private[graft] def kmeansCentroidsLoop(base: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    var centroids: Seq[(Long, Seq[Double])] =
      graft.Bounded.collect(base.where(col("v").isNotNull)
        .select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("vec_id")).limit(k),
        cap = k, what = s"k-means seed rows (k=$k)")
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    for (_ <- 1 until iters)
      centroids = kmCentroidsOf(
        graft.Bounded.collect(kmMeans(argminAssign(base, centroids)),
          cap = k * 64, what = s"k-means centroid means (k=$k x 64 dims)")
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSeq)
    centroids
  }

  /** Centroids from (cluster, dim, centroid, n) mean rows, in cluster-id
    * order with each vector in dim order — the order both paths lay the
    * kernel's centroid matrix out in.
    */
  private def kmCentroidsOf(
      rows: Seq[(Long, Int, Double, Long)]): Seq[(Long, Seq[Double])] =
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cid, rs) => (cid, rs.sortBy(_._2).map(_._3)) }

  /** The argmin kernel's tables for `cents`: the row-major centroid
    * matrix, the ids, and each cᵢ·cᵢ by the [[graft.plans.VectorDot.dot]]
    * fold the oracle's list_dot_product(cv, cv) computes. One helper for
    * both paths, so they hand the kernel identical tables.
    */
  private def kmTables(
      cents: Seq[(Long, Seq[Double])]): (Array[Double], Array[Long], Array[Double]) =
    (cents.flatMap(_._2).toArray, cents.map(_._1).toArray,
      cents.map { case (_, cv) =>
        val a = cv.toArray; graft.plans.VectorDot.dot(a, a)
      }.toArray)

  /** Fetches (vec_id, v) for the driver finish of [[kmeansIterate]] and
    * [[kmeansCentroids]], or None — the distributed loop — when the
    * corpus has more than [[KmeansDriverVectors]] rows or holds a row
    * the driver would not reproduce bit for bit: a null element (the
    * loop's sum skips it but its count does not), an element
    * CAST(x AS DECIMAL(18,9)) does not give a value for, or magnitudes
    * large enough that an exact per-(cluster, dim) sum could overflow a
    * Long of 1e-9 units. Seeds are drawn from non-null vectors only, as
    * in the loop and the oracle; a null vector joins no cluster on either
    * path. `k` maps the corpus row count to the number of seeds.
    */
  private def kmFetch(base: DataFrame, k: Long => Int): Option[KmCorpus] =
    graft.Bounded.upTo(base.select("vec_id", "v"), KmeansDriverVectors,
        "k-means corpus (vec_id, v)").flatMap { rows =>
      val ids = rows.map(_.getLong(0))
      val vs = rows.map(r =>
        if (r.isNullAt(1)) null else r.getSeq[Any](1).toArray)
      val units = vs.map(v => if (v == null) Array.empty[Long] else v.map(decimalUnits))
      val seeds = ids.indices.filter(vs(_) != null)
        .map(i => (DigestUtils.md5Hex(ids(i).toString), ids(i), i)).sorted
        .slice(0, k(rows.length.toLong)).map(_._3)
      val reproducible = units.forall(_.forall(u =>
        u != NoUnits && math.abs(u) <= Long.MaxValue / rows.length))
      if (!reproducible) None
      else Some(new KmCorpus(ids,
        vs.map(v => if (v == null) null else v.map(_.asInstanceOf[Double])),
        units, seeds.map(i => (ids(i), vs(i).map(_.asInstanceOf[Double]).toSeq))))
    }

  /** [[decimalUnits]]' answer for an element it cannot convert: a null, or
    * a value CAST(x AS DECIMAL(18,9)) maps to null or an error. No valid
    * unit count reaches it (|units| < 1e18).
    */
  private val NoUnits = Long.MinValue

  /** `x` in units of 1e-9 exactly as Spark's CAST(x AS DECIMAL(18,9))
    * computes it (its own [[Decimal]], HALF_UP), or [[NoUnits]].
    */
  private def decimalUnits(x: Any): Long = x match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      val dec = Decimal(d)
      if (dec.changePrecision(18, 9)) dec.toUnscaledLong else NoUnits
    case _ => NoUnits
  }

  /** A corpus fetched whole for the k-means driver finish: `vs(i)` is
    * vector i as the kernel reads it (null for a null vector), `units(i)`
    * its elements as DECIMAL(18,9) unscaled longs, `seeds` the loop's k
    * seed centroids in its (md5, vec_id) order.
    */
  private final class KmCorpus(ids: Array[Long], vs: Array[Array[Double]],
      units: Array[Array[Long]], seeds: Seq[(Long, Seq[Double])]) {

    /** The centroids after `iters − 1` mean updates from the seeds. */
    def centroids(iters: Int): Seq[(Long, Seq[Double])] =
      (1 until iters).foldLeft(seeds)((cents, _) => kmCentroidsOf(pass(cents)))

    /** One Lloyd pass against `cents`, with the loop's arithmetic: each
      * non-null vector goes to the cluster the same kernel picks, then
      * per (cluster, dim) the exact DECIMAL(18,9) sum, as a double, over
      * the count of elements at that dim (posexplode's count, so ragged
      * widths match), rounded to 6 dp. Returns (cluster, dim, centroid,
      * n_vectors) for every (cluster, dim) with a member.
      */
    def pass(cents: Seq[(Long, Seq[Double])]): Seq[(Long, Int, Double, Long)] = {
      val (mat, cids, ccs) = kmTables(cents)
      val slot = cids.zipWithIndex.toMap
      val width = vs.iterator.filter(_ != null).map(_.length).maxOption.getOrElse(0)
      val sums = Array.ofDim[Long](cids.length, width)
      val ns = Array.ofDim[Long](cids.length, width)
      for (i <- vs.indices if vs(i) != null) {
        val c = slot(graft.plans.KmeansKernel.argmin(vs(i), mat, cids, ccs))
        val u = units(i)
        for (j <- u.indices) { sums(c)(j) += u(j); ns(c)(j) += 1 }
      }
      for (c <- cids.indices.sortBy(cids(_)); j <- 0 until width if ns(c)(j) > 0)
        yield (cids(c), j,
          graft.plans.KmeansKernel.round6(Decimal(sums(c)(j), 28, 9).toDouble / ns(c)(j)),
          ns(c)(j))
    }
  }

  /** One map-only Lloyd assignment against literal centroids: ONE native
    * argmin call per row ([[graft.plans.CentroidArgmin]], codegen'd)
    * instead of k separate graft_vector_dot(v, literal) expressions: the
    * per-centroid form converted BOTH arrays to double[] on every call —
    * k+1 array copies per row, which at q123's corpus-derived
    * k ≈ sqrt(n) dwarfed the k·d useful flops (measured 4–7 s per
    * assignment pass at sf5, k=134; this form runs it in ~1 s). The
    * centroid matrix, ids, and c·c terms enter the plan as FOLDABLE
    * array literals (the kernel converts them to primitive tables once
    * per task); the literals round-trip Double.toString exactly, and the
    * (d², c_id) tie-break matches the old array_min-over-structs —
    * arithmetic is bit-identical to both the old plan and the oracle.
    */
  private def argminAssign(base: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val (mat, ids, ccs) = kmTables(cents)
    val idsSql = ids.map(id => s"${id}L").mkString("array(", ",", ")")
    base.withColumn("cluster", expr(
      s"graft_centroid_argmin(v, ${dArr(mat.toSeq)}, $idsSql, ${dArr(ccs.toSeq)})"))
  }

  /** q135 kernel — centroid-based (simplified) silhouette audit of the
    * q120 clustering (Rousseeuw 1987's silhouette with the cluster-mean
    * distance standing in for mean member distance — the O(n·k) form
    * that scales where the O(n²) pairwise definition cannot): per
    * vector, `a` = rounded d² to its OWN (nearest) centroid, `b` = d²
    * to the second-nearest, s = (b − a) / max(a, b) ∈ [0, 1] (own is
    * nearest by construction, so the classic negative branch collapses;
    * what remains measures assignment AMBIGUITY). s < 0.5 ⇔ the runner-up
    * centroid sits within 2× the own distance — the boundary points that
    * flip under perturbation and the natural review set before trusting
    * q123's within-cluster dedup. 100 TB posture: the centroid loop is
    * [[kmeansCentroids]] (data never shuffles, k×64 means move); the
    * silhouette pass is ONE map-only scan against k literal centroid
    * arrays (per-centroid rounded d² structs, array_sort for the
    * (d², c_id) argmin + runner-up — k = 8 keeps the per-row array
    * conversions the argmin kernel exists to avoid in the noise), and
    * the only exchange is the k-group aggregate. Means are decimal-routed
    * (the q122 moment idiom); every distance and s rounds to 6 dp with
    * identical expression text in both engines.
    */
  def kmeansSilhouette(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val base = kmBase(emb)
    val cents = kmeansCentroids(base, _ => k, iters)
    require(cents.length >= 2,
      s"silhouette needs >= 2 surviving clusters, got ${cents.length}")
    val structs = cents.map { case (cid, cv) =>
      val a = cv.toArray
      val cc = graft.plans.VectorDot.dot(a, a)
      s"""struct(round(graft_vector_dot(v, v)
         | - 2 * graft_vector_dot(v, ${dArr(cv)}) + ${cc}D, 6) AS d2,
         | ${cid}L AS cid)""".stripMargin
    }
    base
      .selectExpr("vec_id", s"array_sort(array(${structs.mkString(",")})) AS ds")
      .selectExpr("vec_id", "ds[0].cid AS cluster", "ds[0].d2 AS a",
        "ds[1].d2 AS b")
      .selectExpr("cluster",
        """CASE WHEN greatest(a, b) <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |     ELSE round((b - a) / greatest(a, b), 6) END AS s""".stripMargin)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("s").cast(DecimalType(18, 9))).cast("double")
          / count(lit(1)), 6).as("mean_sil"),
        round(min(col("s")), 6).as("min_sil"),
        sum(when(col("s") < lit(0.5).cast("double"), 1L).otherwise(0L))
          .as("n_boundary"))
  }

  /** Planted-variant id offset: the smallest power of 10 strictly above
    * MAX(vec_id), derived from the corpus itself so a regenerated fixture
    * with a larger id range can never silently collide planted variant
    * ids with real ones (a fixed +10000 breaks the moment the table
    * outgrows 10k ids — exactly the r11 testdata-regen failure mode). At
    * every driver fixture scale (max vec_id 1999) this evaluates to the
    * historical 10000, so result hashes and the VectorSpec pins are
    * unchanged. Integer string arithmetic — never POWER/log, whose float
    * path could straddle a rounding boundary between engines (the
    * [[hyperplaneBandBits]] lesson). The one-column MAX is a
    * parquet-statistics read, not a data scan.
    */
  def variantOffset(s: SparkSession, dir: String): Long = {
    val mx = graft.Bounded.one(
      Tables.t(s, dir, "embeddings").agg(max(col("vec_id"))),
      "variantOffset max vec_id (1-row aggregate)").getLong(0)
    ("1" + "0" * mx.toString.length).toLong
  }

  /** SQL mirror of [[variantOffset]] — a scalar subquery the oracle CTE
    * chains inline, so both engines derive the identical offset from the
    * same table.
    */
  def variantOffsetSql: String =
    "(SELECT CAST('1' || repeat('0', LENGTH(CAST(MAX(vec_id) AS VARCHAR))) AS BIGINT) FROM embeddings)"

  /** q108/q116's shared planted corpus: the embeddings table plus a
    * zeroed-first-dimension near-copy of every 20th vector at
    * id+[[variantOffset]] (cosine ~0.99 to its original — a guaranteed
    * near-dup the LSH must find). Returns (vec_id, v); [[withNrm]]
    * attaches the norm once, after any extra variant arms have been
    * unioned in.
    */
  private def plantedBase(s: SparkSession, dir: String): DataFrame = {
    val off = variantOffset(s, dir)
    val e = Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .selectExpr(s"vec_id + ${off}L AS vec_id",
        "transform(v, (x, i) -> CASE WHEN i = 0 THEN 0D ELSE x END) AS v")
    e.unionByName(planted)
  }

  /** The single norm-derivation site for the LSH corpus builders. */
  private def withNrm(base: DataFrame): DataFrame =
    base.select(col("vec_id"), col("v"),
      sqrt(expr("graft_vector_dot(v, v)")).as("nrm"))

  /** q116/q117's shared two-arm variant corpus (vec_id, v, nrm): the
    * embeddings plus [[plantedBase]]'s first arm (every 20th vector,
    * dim 0 zeroed, at +off) and a second arm (every 40th vector, dim 1
    * zeroed, at +2·off) — so some originals carry two near-copies and the
    * transitive closure genuinely merges multi-member clusters.
    */
  private def semCorpus(s: SparkSession, dir: String): DataFrame = {
    val off = variantOffset(s, dir)
    withNrm(plantedBase(s, dir).unionByName(
      Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
        .filter(col("vec_id") % 40 === 0)
        .selectExpr(s"vec_id + ${2 * off}L AS vec_id",
          "transform(v, (x, i) -> CASE WHEN i = 1 THEN 0D ELSE x END) AS v")))
  }

  /** Symmetric CC edge list from verified near-dup (vec_id1, vec_id2)
    * pairs ([[lshSimPairs]]' or [[kmeansPairs]]'), both orientations out
    * of one map-side explode (the [[LlmQueries.labelPropagation]] edge
    * contract).
    */
  private def symEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("vec_id1").as("src"), col("vec_id2").as("dst")),
        struct(col("vec_id2").as("src"), col("vec_id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** q117/q123's quality, the exact integer L2-norm micro score of `v`
    * (q106's arithmetic: squared terms routed through DECIMAL, then
    * floor(sqrt·10⁶)), so both engines agree bit for bit. Spark form.
    */
  private def semQuality: String =
    """CAST(floor(sqrt(CAST(aggregate(v, CAST(0 AS DECIMAL(26,12)),
      |  (a, x) -> CAST(a + CAST(x * x AS DECIMAL(26,12)) AS DECIMAL(26,12)))
      |  AS DOUBLE)) * 1000000) AS BIGINT)""".stripMargin

  /** [[semQuality]] as the oracle's `qual` CTE over `base`. */
  private def semQualSql: String = """
      qual AS (SELECT vec_id,
                 CAST(floor(sqrt(CAST(list_sum(list_transform(v,
                   x -> CAST(x * x AS DECIMAL(26,12)))) AS DOUBLE)) * 1000000)
                   AS BIGINT) AS quality
               FROM base)"""

  /** q117 kernel over any (vec_id, v, nrm) corpus: LSH-edge transitive
    * clusters ([[LlmQueries.labelPropagation]]) reduced to each cluster's
    * highest-quality member via [[LlmQueries.keepBest]]'s single argmax
    * aggregation. Quality = exact integer L2-norm micro (q106's decimal
    * arithmetic). Public so VectorSpec can pin the policy on a controlled
    * corpus where a LARGER id has the higher norm (argmax must override
    * q116's min-id).
    */
  def semDedupKeepBest(corpus: DataFrame): DataFrame = {
    val cc = LlmQueries
      .labelPropagation(corpus.select(col("vec_id").as("doc_id")),
        symEdges(lshSimPairs(corpus)))
      ._1.select("doc_id", "canonical")
    val qual = corpus.select(col("vec_id").as("doc_id"), expr(semQuality).as("quality"))
    LlmQueries.keepBest(
      cc.join(qual, "doc_id").select("doc_id", "canonical", "quality"))
  }

  /** q123 kernel: the published SemDeDup pipeline shape (Abbas et al.
    * 2023 — cluster with k-means FIRST, then deduplicate WITHIN each
    * cluster) over any (vec_id, v, nrm) corpus. q116/q117 generate
    * candidate pairs with hyperplane LSH; here the k-means partition IS
    * the candidate generator: [[kmeansAssign]]'s map-only final-pass
    * assignment, [[kmeansPairs]]' per-cell dense pairwise kernel over ONE
    * cluster-id shuffle (never all-pairs across clusters, and no joined
    * vector rows), exact cosine ≥ `tau` verification, transitive
    * closure ([[LlmQueries.labelPropagation]] — semantic groups may
    * chain), and q117's single-argmax quality keep. 100 TB posture: the
    * corpus shuffles ONCE (on cluster id, both join sides reused); the
    * quadratic term is bounded per cluster, which is exactly the
    * published recipe's point. k is [[semDedupK]]'s sqrt-balanced
    * corpus-derived value (a fixed k=8 measured 203 s at
    * sf5 — ~14k-vector cells made the pair join quadratic; the adaptive
    * k keeps assignment cost n·k·d·iters and pair cost n·(n/k)·d/2 in
    * balance). k clamps at 512, so past about 1.6 M vectors the cells
    * outgrow the balance and the within-cell pair term grows
    * quadratically; there is no cell-size bound. Both engines here
    * derive the same k from the same COUNT, the [[hyperplaneBandBits]]
    * pattern. Output adds the k-means cluster id
    * (`km_cluster`) to q117's schema — every semantic group lives inside
    * one k-means cluster by construction, and exposing it makes the
    * two-level structure auditable.
    */
  def kmeansSemDedup(corpus: DataFrame, iters: Int = 3,
      tau: Double = 0.9): DataFrame = {
    // the kernel is a chain of ~8 driver-sequenced jobs (seed collect,
    // per-pass mean collects, pairs, CC rounds, final reduce) and EVERY
    // one re-reads the corpus; uncached, each re-ran the 3-scan
    // union+transform lineage (measured: the corpus+assignment recompute
    // chain was ~2/3 of q123's 20 s at sf5). Cache the corpus for the
    // loop and the final-pass assignment for its two consumers; the
    // result is materialized (the CC kernel does this anyway for its own
    // lineage hygiene) so both caches release before returning.
    val corpusP = corpus.persist()
    val asg = kmeansAssign(corpusP, semDedupK, iters).persist()
    val edges = symEdges(kmeansPairs(asg, tau))
    val cc = LlmQueries
      .labelPropagation(corpusP.select(col("vec_id").as("doc_id")), edges)
      ._1.select("doc_id", "canonical")
    // quality and the km cluster ride ONE map-only corpus scan
    val memb = asg.select(col("vec_id").as("doc_id"),
      col("cluster").as("km"), expr(semQuality).as("quality"))
    val out = cc.join(memb, "doc_id")
      .groupBy(col("canonical").as("cluster_id"))
      .agg(min(col("km")).as("km_cluster"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("km_cluster"),
        (-col("best.nid")).as("keep_id"),
        col("best.quality").as("max_quality"), col("n_members"))
    val outM = Lineage.truncate(out)
    asg.unpersist()
    corpusP.unpersist()
    outM
  }

  /** q123's corpus-derived k: max(8, min(512, ceil(sqrt(n / 6)))) —
    * sqrt-of-n balances the map-only assignment (n·k·d·iters) against
    * the within-cell pair join (n·(n/k)·d/2): with iters = 3 the two
    * terms equalize at k ≈ sqrt(n/6). Every operation (long→double
    * widening, the /6.0 division, sqrt, ceil) is correctly rounded IEEE
    * on both engines, so the SQL mirror — GREATEST/LEAST/ceil/sqrt over
    * COUNT(*) in [[semDedupKSql]] — derives the identical k at any
    * corpus size (the [[hyperplaneBandBits]] count-derived-parameter
    * pattern; its log-ratio lesson does not apply because sqrt is a
    * single correctly-rounded primitive, not a libm ratio).
    */
  def semDedupK(n: Long): Int =
    math.max(8L, math.min(512L, math.ceil(math.sqrt(n / 6.0)).toLong)).toInt

  /** SQL mirror of [[semDedupK]], as a scalar-subquery LIMIT operand. */
  def semDedupKSql(base: String): String =
    s"(SELECT GREATEST(8, LEAST(512, CAST(ceil(sqrt(COUNT(*) / 6.0)) AS BIGINT))) FROM $base)"

  /** q123's candidate stage, split out so PlanAuditSpec can pin its shape
    * directly: same-cell pairs verified by exact cosine ≥ `tau` over a
    * k-means assignment (`vec_id`, `v`, `nrm`, `cluster`).
    *
    * Within-cell all-pairs is a DENSE COMPUTE kernel, not a relational
    * join: the first r14 cut self-joined the assignment on the cluster id
    * and let the join materialize BOTH 64-double vectors into every
    * candidate row — ~45 M joined-row copies (≈50 GB of memcpy) at sf5
    * before the cosine filter ever ran; measured 46.7 s. This form keeps
    * the exact same ONE cluster-id shuffle (`groupByKey`) but runs the
    * pairwise loop over primitive arrays inside each cell, so the only
    * rows that ever leave the kernel are the verified (id1, id2) pairs.
    * Per-cell memory is (n/k)·~600 B — bounded by the sqrt-balanced k at
    * ~sqrt(6n) members, megabytes at any corpus size. The cosine round
    * replicates Spark's `round(_, 6)` double semantics exactly
    * (java.math.BigDecimal.valueOf + HALF_UP — the codegen formula), so
    * the oracle's DuckDB round stays bit-compatible.
    */
  def kmeansPairs(asg: DataFrame, tau: Double = 0.9): DataFrame = {
    val s = asg.sparkSession
    import s.implicits._
    asg.select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.map { case (_, id, v, nrm) => (id, v.toArray, nrm) }.toArray
        val out = Seq.newBuilder[(Long, Long)]
        var i = 0
        while (i < ms.length) {
          val (idI, vI, nrmI) = ms(i)
          var j = i + 1
          while (j < ms.length) {
            val (idJ, vJ, nrmJ) = ms(j)
            var d = 0.0
            var t = 0
            val n = math.min(vI.length, vJ.length)
            while (t < n) { d += vI(t) * vJ(t); t += 1 }
            val cos = d / (nrmI * nrmJ)
            // |round(x, 6) − x| ≤ 5e-7, so outside a ±1e-6 band the
            // rounded compare is decided by the raw double and the
            // BigDecimal allocation (the measured per-pair cost over
            // ~50 M candidate pairs at sf5) only runs for boundary pairs
            val pass =
              if (cos >= tau + 1e-6) true
              else if (cos < tau - 1e-6) false
              else java.math.BigDecimal.valueOf(cos)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= tau
            if (pass)
              out += (if (idI < idJ) (idI, idJ) else (idJ, idI))
            j += 1
          }
          i += 1
        }
        out.result().iterator
      }
      .toDF("vec_id1", "vec_id2")
  }

  /** SQL mirror of [[semCorpus]] (a `base` CTE body). */
  private def semBaseSql: String = s"""$plantedBaseSql
        UNION ALL
        SELECT vec_id + 2 * $variantOffsetSql,
          [ CASE WHEN i = 2 THEN 0 ELSE v[i] END for i in range(1, len(v) + 1) ]
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        WHERE vec_id % 40 = 0"""

  /** Shared oracle CTE chain from `base` through the verified-pair edge
    * set to the exact recursive closure `reach` — the SQL mirror of
    * [[lshSimPairs]] + [[symEdges]] + transitive closure (q116/q117).
    */
  private def semClosureSql: String = s"""$lshCandSql,
      sims AS (
        SELECT vec_id1, vec_id2
        FROM cand JOIN n a ON vec_id1 = a.vec_id JOIN n b ON vec_id2 = b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.9),
      $semReachSql"""

  /** The verified pairs `sims` as symmetric `edges` and their recursive
    * closure `reach` from every vector of `base` — the SQL mirror of
    * [[symEdges]] + transitive closure, shared by q116/q117 and q123.
    */
  private def semReachSql: String = """
      edges AS (SELECT vec_id1 AS src, vec_id2 AS dst FROM sims
                UNION SELECT vec_id2, vec_id1 FROM sims),
      reach(src, dst) AS (
        SELECT vec_id, vec_id FROM base
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  /** The SQL mirror of [[plantedBase]] (a `base` CTE body). */
  private def plantedBaseSql: String = s"""
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + $variantOffsetSql,
          [ CASE WHEN i = 1 THEN 0 ELSE v[i] END for i in range(1, len(v) + 1) ]
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        WHERE vec_id % 20 = 0"""

  /** Shared oracle CTE chain from a `base(vec_id, v, ...)` CTE to the
    * capped LSH candidate pairs `cand(vec_id1, vec_id2)` (plus `n` with
    * norms) — the SQL mirror of [[lshSimPairs]]'s generation stage.
    */
  private def lshCandSql: String = s"""
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      planes AS (
        SELECT p, d,
          (( (strpos('0123456789abcdef', substr(hs, 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(hs, 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(hs, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hs, 4, 1)) - 1)
           ) / 32767.5) - 1.0 AS h
        FROM (SELECT p, d,
                md5('hp' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)) AS hs
              FROM range(0, 128) t1(p), range(0, 64) t2(d)) hq),
      pvec AS (SELECT p, list(h ORDER BY d) AS hv FROM planes GROUP BY p),
      bits AS (SELECT vec_id, p,
                 CASE WHEN list_dot_product(v, hv) >= 0 THEN '1' ELSE '0' END AS bit
               FROM base, pvec),
      params AS (SELECT GREATEST(16, LEAST(32,
                   CAST(LENGTH(BIN(GREATEST(COUNT(*), 2) - 1)) AS INT) + 2)) AS w
                 FROM base),
      bands AS (SELECT vec_id, p // w AS band_idx,
                  string_agg(bit, '' ORDER BY p) AS band
                FROM bits, params WHERE p < w * (128 // w)
                GROUP BY vec_id, p // w),
      capped AS (SELECT vec_id, band_idx, band FROM (
          SELECT vec_id, band_idx, band,
            COUNT(*) OVER (PARTITION BY band_idx, band) AS bucket_n
          FROM bands) cb
        WHERE bucket_n <= ${graft.operators.LlmQueries.BucketCap}),
      cand AS (SELECT DISTINCT a.vec_id AS vec_id1, b.vec_id AS vec_id2
               FROM capped a JOIN capped b
                 ON a.band_idx = b.band_idx AND a.band = b.band
                  AND a.vec_id < b.vec_id)"""

  /** q108/q116's shared near-dup pair generator over `base(vec_id, v,
    * nrm)`: corpus count drives the band width ([[hyperplaneBandBits]] —
    * an eager bounded action like the IVF centroid collect; the oracle
    * derives the same width from COUNT(*) so both engines re-band in
    * lockstep as the corpus grows), one codegen'd `graft_hyperplane_sig`
    * pass per vector (128 projection signs; the plane matrix is a JVM
    * static mirrored by the oracle's md5-derived planes CTE), ⌊128/bits⌋
    * bands of ceil(log₂ n)+2 bits (≥16), capped band join, exact
    * cosine >= 0.9 verification via `graft_vector_dot`.
    */
  private def lshSimPairs(base: DataFrame): DataFrame = {
    val n = base.count()
    val bands = hyperplaneBands(
      base.selectExpr("vec_id", "graft_hyperplane_sig(v) AS sig"), n)
    val cand = bands.select(col("vec_id").as("vec_id1"), col("bk64"))
      .hint("merge")
      .join(bands.select(col("vec_id").as("vec_id2"), col("bk64").as("bk64b")),
        col("bk64") === col("bk64b") && col("vec_id1") < col("vec_id2"))
      .select("vec_id1", "vec_id2").distinct()
    cand
      .join(base.select(col("vec_id").as("vec_id1"), col("v").as("va"),
        col("nrm").as("na")), "vec_id1")
      .join(base.select(col("vec_id").as("vec_id2"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_id2")
      .select(col("vec_id1"), col("vec_id2"),
        round(expr("graft_vector_dot(va, vb)") / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= 0.9)
  }

  /** q108's band-width knob: sign-LSH carries an n²·2⁻ᵇⁱᵗˢ·bands random-
    * collision term, so a FIXED 16-bit band goes quadratic once the corpus
    * outgrows 2¹⁶ vectors. Width ceil(log₂ n)+2 keeps the expected random
    * collisions per band at n²/2^bits ≤ n/4 — linear at every corpus size
    * — floored at 16 (so every test SF and the DuckDB oracle's fixture
    * scales keep the historical 8×16 banding bit-for-bit) and capped at 32
    * (≥4 bands of the 128-bit signature; beyond n≈2³⁰ recall of a
    * cosine-0.99 pair falls to ~0.65 and the right fix is a longer
    * signature, not fewer bands). The oracle SQL computes the SAME formula
    * from COUNT(*), so both engines re-band in lockstep as the corpus
    * grows. VectorSpec pins the formula and the band reshape.
    *
    * ceil(log₂ n) is computed with INTEGER bit-length arithmetic — the
    * bit position of n−1 — never a libm log ratio: log(2^29)/log(2)
    * evaluates to 29.000000000000004 under libm, so a ceil over the
    * ratio picks 30 at exactly n=2^29 (and is platform-dependent in
    * general) while the oracle's exact log2 picks 29 — the band width,
    * and with it the whole candidate set, would diverge between engines
    * right at powers of two. The oracle params CTE uses the equivalent
    * integer form LENGTH(BIN(n−1)), so neither side can straddle a
    * floating-point rounding boundary.
    */
  def hyperplaneBandBits(n: Long): Int = {
    val m = math.max(n, 2L)
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(16, math.min(32, ceilLog2 + 2))
  }

  /** q46's pair-budget knob: the exact-recall anchor samples base vec_ids
    * so its within-cell all-pairs join runs over ~`budget` sampled vectors
    * at ANY corpus size — pairs stay ≈ Σcell² of a fixed-size sample
    * (~1M at budget 4096) instead of growing 4× per 2× corpus (r10
    * measured 88.5M pairs at sf2, 18% of the whole suite's wall-clock).
    * This is how production systems validate ANN recall: against exact
    * ground truth on a SAMPLE, never all-pairs over the corpus. m = 1 at
    * every correctness-fixture scale (n ≤ 4096 ⇒ no sampling — the gate
    * and VectorSpec see the historical full anchor), and the oracle SQL
    * derives the SAME m from COUNT(*), so both engines sample in
    * lockstep.
    */
  def anchorSampleMod(nBase: Long, budget: Long = 4096L): Long =
    math.max(1L, nBase / budget)

  /** The q46 anchor's corpus: Knuth-multiplicative-hash-sampled base ids
    * (uniform, deterministic, identical arithmetic in the oracle SQL — all
    * intermediates fit a BIGINT) plus the planted near-dup twins
    * (vec_id%20==0, coordinate 0 zeroed, +[[variantOffset]]) of the
    * SAMPLED ids. Sampling the BASE id before planting means a planted
    * pair shares its sample fate by construction — the anchor keeps every
    * planted positive it keeps the original of, so the recall measurement
    * never counts a pair whose other half was sampled away (VectorSpec
    * pins this coupling).
    */
  def anchorBase(s: SparkSession, dir: String): DataFrame = {
    val eAll = Tables.t(s, dir, "embeddings")
    val m = anchorSampleMod(eAll.count())
    val off = variantOffset(s, dir)
    val e = eAll
      .filter(expr(s"((vec_id * 2654435761L) % 4294967296L) % $m = 0"))
      .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS double)) AS v")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .selectExpr(s"vec_id + ${off}L AS vec_id", "label",
        "transform(v, (x, i) -> CASE WHEN i = 0 THEN 0D ELSE x END) AS v")
    e.unionByName(planted)
  }

  /** The oracle side of [[anchorBase]]'s sampling — kept next to the Spark
    * form so the two can't drift.
    */
  val anchorSampleSql: String = """
      params AS (SELECT GREATEST(1, COUNT(*) // 4096) AS m FROM embeddings),
      samp AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings, params
               WHERE ((vec_id * 2654435761) % 4294967296) % m = 0)"""

  /** Signature table (vec_id, sig: 128-char bit string) → capped band
    * buckets (vec_id, bk64), band width from [[hyperplaneBandBits]] —
    * q108's candidate generator.
    */
  def hyperplaneBands(sigs: DataFrame, n: Long,
                      cap: Int = graft.operators.LlmQueries.BucketCap): DataFrame = {
    val bits = hyperplaneBandBits(n)
    val nb = 128 / bits
    sigs.selectExpr("vec_id", s"""
        explode(transform(sequence(0, ${nb - 1}), j -> struct(
          j AS band_idx, substring(sig, 1 + $bits*j, $bits) AS band))) AS b""")
      .select(col("vec_id"), xxhash64(col("b.band_idx"), col("b.band")).as("bk64"))
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("bk64"))))
      .filter(col("bucket_n") <= cap)
      .select("vec_id", "bk64")
  }

  /** IVF multi-probe candidate scores, probe count as a parameter: each
    * query scores every vector in its HOME cell plus its `probes - 1`
    * nearest FOREIGN cells by centroid squared-L2. Because the probed cell
    * set only ever GROWS with `probes`, the candidate set is monotone —
    * recall vs brute force can only improve (VectorSpec asserts the
    * p=1 ⊆ p=2 ⊆ p=3 chain) while cost stays `probes` cells per query,
    * never the corpus. Public so specs can sweep the recall/cost knob.
    */
  def ivfCandidates(s: SparkSession, dir: String, probes: Int): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val base = Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS double)) AS v")
    val n = base.select(col("vec_id"), col("label"), col("v"),
      sqrt(expr("graft_vector_dot(v, v)")).as("nrm"))
    // per-label centroid VECTORS: q77's exact decimal aggregation,
    // re-assembled in dim order (struct sort == sort by first field)
    val cvec = base
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") / count(lit(1)))
        .as("raw"))
      .select(col("label"), col("dim"), round(col("raw"), 6).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cv"))
    val q = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val wCell = Window.partitionBy("query_id").orderBy(col("d2"), col("label"))
    val home = q.select(col("query_id"), col("qv"), col("qn"),
      col("qlabel").as("plabel"))
    val probe =
      if (probes == 1) home
      else home.unionByName(
        q.join(broadcast(cvec), col("label") =!= col("qlabel"))
          .withColumn("d2", round(
            expr("graft_vector_dot(qv, qv) - 2 * graft_vector_dot(qv, cv) + graft_vector_dot(cv, cv)"),
            6))
          .withColumn("cell_rk", row_number().over(wCell))
          .filter(col("cell_rk") <= probes - 1)
          .select(col("query_id"), col("qv"), col("qn"), col("label").as("plabel")))
    n.join(broadcast(probe),
      col("label") === col("plabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("graft_vector_dot(qv, v)") / (col("qn") * col("nrm")), 6)
          .as("sim"))
  }

  /** Top-k over [[ivfCandidates]] — q89 is `ivfTopK(_, _, probes = 2)`. */
  def ivfTopK(s: SparkSession, dir: String, probes: Int, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    ivfCandidates(s, dir, probes)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** The IVF oracles' shared CTEs: vectors `n` with their norms, the
    * per-label centroids `cent`/`cvec` (q77's decimal-routed means), and
    * the vec_id < 10 query set `q`.
    */
  private def ivfHeadSql: String = """
      n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
      cent AS (
        SELECT label, i AS dim,
          round(CAST(SUM(CAST(v[i + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS c
        FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings), range(0, 64) t(i)
        GROUP BY label, i),
      cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
            FROM n WHERE vec_id < 10)"""

  /** q89's probe arm as the oracle CTE `name`: each query's home cell
    * plus every foreign cell whose rank by rounded centroid d² (label
    * tie-break) satisfies `cellRk` — `= 1` for q89's second probe,
    * `<= p - 1` for q148's p-probe arm.
    */
  private def ivfProbeSql(name: String, cellRk: String): String = s"""
      $name AS (
        SELECT query_id, qv, qn, qlabel AS label FROM q
        UNION ALL
        SELECT query_id, qv, qn, label FROM (
          SELECT q.query_id, q.qv, q.qn, c.label,
            CAST(row_number() OVER (PARTITION BY q.query_id
              ORDER BY round(list_dot_product(q.qv, q.qv)
                           - 2 * list_dot_product(q.qv, c.cv)
                           + list_dot_product(c.cv, c.cv), 6), c.label) AS INT) AS cell_rk
          FROM q JOIN cvec c ON c.label <> q.qlabel) t
        WHERE cell_rk $cellRk)"""

  // ----------------------------------------------------------- q148 IVF
  /** Oracle for the recall curve: the IVF header plus the exact top-5,
    * then one q89 probe arm per probe count with `cell_rk <= p-1` (p = 1
    * degenerates to the home cell alone). Recall counts are integer.
    */
  private lazy val ivfRecallOracleSql: String = {
    val k = 5
    val arms = Seq(1, 2, 3).map { p =>
      s"""${ivfProbeSql(s"pr$p", s"<= ${p - 1}")},
      iv$p AS (SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY round(list_dot_product(p.qv, c.v) / (p.qn * c.nrm), 6)
              DESC, c.vec_id) AS INT) AS rk
        FROM pr$p p JOIN n c ON c.label = p.label
          AND c.vec_id <> p.query_id) t
        WHERE rk <= $k),
      hit$p AS (SELECT q.query_id,
          CAST(COUNT(iv$p.neighbor_id) AS BIGINT) AS hits
        FROM q LEFT JOIN (SELECT iv$p.* FROM iv$p
          JOIN ex ON iv$p.query_id = ex.query_id
                 AND iv$p.neighbor_id = ex.neighbor_id) iv$p
          ON q.query_id = iv$p.query_id
        GROUP BY q.query_id),
      f$p AS (SELECT CAST($p AS INT) AS probes,
        COUNT(*) AS n_queries,
        CAST(SUM(hits) AS BIGINT) AS sum_hits,
        CAST(MIN(hits) AS BIGINT) AS min_hits,
        CAST((SUM(hits) * 1000000) // (COUNT(*) * $k) AS BIGINT)
          AS recall_micro
        FROM hit$p)"""
    }.mkString(",\n      ")
    s"""
      WITH $ivfHeadSql,
      ex AS (SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          CAST(row_number() OVER (PARTITION BY q.query_id
            ORDER BY round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 6)
              DESC, c.vec_id) AS INT) AS rk
        FROM q JOIN n c ON c.vec_id <> q.query_id) t
        WHERE rk <= $k),
      $arms
      SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3"""
  }

  /** q148 kernel — ground truth once (brute force over the broadcast
    * anchor set, anchor-partitioned rank), then one [[ivfTopK]] arm per
    * probe count; per-probe recall assembles on the 10-row anchor frame
    * (left join + coalesce so a zero-recall anchor still counts). All
    * joins carry a broadcast side; output is 3 rows.
    */
  def ivfRecallCurve(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val n = Tables.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .withColumn("nrm", sqrt(expr("graft_vector_dot(v, v)")))
    val q = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val ex = Lineage.truncate(n.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("graft_vector_dot(qv, v)") / (col("qn") * col("nrm")), 6)
          .as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "neighbor_id"))
    val anchors = q.select("query_id")
    Seq(1, 2, 3).map { p =>
      val iv = ivfTopK(s, dir, probes = p, k = k)
        .select("query_id", "neighbor_id")
      val hits = iv.join(ex, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      anchors.join(hits, Seq("query_id"), "left")
        .select(coalesce(col("h"), lit(0L)).as("hits"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("hits")).cast("long").as("sum_hits"),
          min(col("hits")).cast("long").as("min_hits"))
        .selectExpr(s"CAST($p AS INT) AS probes", "n_queries", "sum_hits",
          "min_hits",
          s"CAST((sum_hits * 1000000) div (n_queries * $k) AS BIGINT)" +
            " AS recall_micro")
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------- q140 JL
  /** Output dimensionality of the JL projection. */
  private final val JlK = 16
  /** Input dimensionality (the fixture's embedding width). */
  private final val JlD = 64
  private final val JlAnchors = 4

  /** Deterministic ±1 Rademacher matrix, row j = output dim, col i =
    * input dim: the low bit of md5("j:i")'s first byte. Derived ONCE in
    * Scala and interpolated as literals into both the Spark plan and the
    * DuckDB oracle — no runtime hash function has to agree cross-engine.
    */
  private lazy val jlSigns: IndexedSeq[IndexedSeq[Int]] =
    (0 until JlK).map { j =>
      (0 until JlD).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }

  /** Fixed anchor points in QUANTIZED space (integer micro-units in
    * [−10⁶, 10⁶], the same scale as floor(x·10⁶) of a [−1,1] embedding),
    * from a Weyl-style integer recurrence — deterministic, literal-
    * embedded, and exactly representable in both engines.
    */
  private lazy val jlAnchorQ: IndexedSeq[IndexedSeq[Long]] =
    (0 until JlAnchors).map { a =>
      (0 until JlD).map { i =>
        ((a.toLong * 1000003L + i.toLong * 7919L + 12345L) * 2654435761L)
          .abs % 2000001L - 1000000L
      }
    }

  /** The anchors' own projections — Σ_i sign(j)(i)·anchor(a)(i), plain
    * Scala longs baked into the plans. */
  private lazy val jlAnchorProj: IndexedSeq[IndexedSeq[Long]] =
    jlAnchorQ.map(aq => jlSigns.map(row =>
      row.zip(aq).map { case (s, v) => s * v }.sum))

  private def jlRatioSql(d2p: String, d2o: String): String = s"""
    CASE WHEN $d2o = 0 THEN CAST(1000000 AS BIGINT)
         ELSE CAST(floor(CAST($d2p AS DOUBLE) / CAST($d2o AS DOUBLE)
                         / 16.0 * 1000000.0) AS BIGINT) END"""

  private def jlWithinSql(d2p: String, d2o: String): String = s"""
    CASE WHEN $d2o = 0 THEN 1
         WHEN 2 * abs($d2p - 16 * $d2o) <= 16 * $d2o THEN 1 ELSE 0 END"""

  /** DuckDB twin of [[jlProjectionAudit]]: same literal sign matrix and
    * anchors, same integer quantization and fold order. The oracle pays
    * one UNION ALL pass per anchor — a DuckDB-side simplification only;
    * the Spark plan inlines all four anchors into the single scan.
    */
  private lazy val jlOracleSql: String = {
    val projCols = (0 until JlK).map { j =>
      s"""CAST(list_sum([ q[i] * ([${jlSigns(j).mkString(", ")}])[i]
            for i in range(1, ${JlD + 1}) ]) AS BIGINT)"""
    }.mkString("[ ", ",\n        ", " ]")
    val anchorSelects = (0 until JlAnchors).map { a =>
      val d2o = s"""CAST(list_sum([ (q[i] - ([${jlAnchorQ(a).mkString(", ")}])[i])
              * (q[i] - ([${jlAnchorQ(a).mkString(", ")}])[i])
            for i in range(1, ${JlD + 1}) ]) AS BIGINT)"""
      val d2p = s"""CAST(list_sum([ (p[j] - ([${jlAnchorProj(a).mkString(", ")}])[j])
              * (p[j] - ([${jlAnchorProj(a).mkString(", ")}])[j])
            for j in range(1, ${JlK + 1}) ]) AS BIGINT)"""
      s"""SELECT label, CAST($a AS INT) AS anchor_id,
            $d2o AS d2o, $d2p AS d2p FROM proj"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH base AS (SELECT label,
        [ CAST(floor(x * 1000000.0) AS BIGINT)
          for x in embedding::DOUBLE[] ] AS q
        FROM embeddings),
      proj AS (SELECT label, q, $projCols AS p FROM base),
      dist AS ($anchorSelects)
      SELECT label, anchor_id, COUNT(*) AS n_vecs,
        CAST(SUM(${jlWithinSql("d2p", "d2o")}) AS BIGINT) AS n_within,
        MIN(${jlRatioSql("d2p", "d2o")}) AS min_ratio_micro,
        MAX(${jlRatioSql("d2p", "d2o")}) AS max_ratio_micro
      FROM dist GROUP BY label, anchor_id"""
  }

  /** q140 kernel — see the Q entry. One map-only projection: quantize to
    * integer micro-units, fold the 16 output lanes as zip_with/aggregate
    * over the LITERAL sign rows (whole-stage codegen keeps the folds in
    * the generated loop — no join against a projection-matrix table at
    * any scale), inline the 4 anchor distance structs, and aggregate to
    * ≤ labels×4 rows. The corpus never shuffles.
    */
  def jlProjectionAudit(emb: DataFrame): DataFrame = {
    val projExprs = (0 until JlK).map { j =>
      s"""aggregate(zip_with(q, array(${jlSigns(j).mkString(", ")}),
            (x, s) -> x * CAST(s AS BIGINT)),
            CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
    }.mkString("array(", ", ", ")")
    val anchorStructs = (0 until JlAnchors).map { a =>
      val d2o = s"""aggregate(zip_with(q, array(${jlAnchorQ(a).mkString(", ")}),
            (x, v) -> (x - v) * (x - v)),
            CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
      val d2p = s"""aggregate(zip_with(p, array(${jlAnchorProj(a).mkString(", ")}),
            (x, v) -> (x - v) * (x - v)),
            CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
      s"struct(CAST($a AS INT) AS anchor_id, $d2o AS d2o, $d2p AS d2p)"
    }.mkString("array(", ", ", ")")
    emb
      .selectExpr("label",
        """transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q""")
      .selectExpr("label", "q", s"$projExprs AS p")
      .selectExpr("label", s"inline($anchorStructs)")
      .groupBy("label", "anchor_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr(jlWithinSql("d2p", "d2o"))).cast("long").as("n_within"),
        min(expr(jlRatioSql("d2p", "d2o"))).as("min_ratio_micro"),
        max(expr(jlRatioSql("d2p", "d2o"))).as("max_ratio_micro"))
  }
}
