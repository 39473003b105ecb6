package graft.operators

import graft.{Lineage, Q, Tables}
import graft.functions.{MisraGries, TextHash}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** LLM training-data pipeline operators (SURVEY.md §7.2 M4; BASELINE.json
  * north star): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
  * similarity search over embeddings (brute-force top-k + IVF-bucketed
  * near-dup), and text analysis (quality scoring, language-ID heuristic,
  * token counting, fingerprinting).
  *
  * Every query is deterministic and oracle-checked: the hash family is
  * md5-based (present and bit-identical in both Spark and DuckDB), float
  * math is double-routed with identical fold order, and similarity scores
  * are rounded to 6 dp before ranking.
  *
  * 100 TB posture, per operator:
  *  - exact dedup: hash-groupBy with partial aggregation — one shuffle on
  *    the content hash, no sort;
  *  - MinHash/LSH: banded signatures → shuffle on (band, band_key) buckets →
  *    candidate pairs verified by true Jaccard. NEVER all-pairs: the only
  *    join is bucket-equality, whose fan-out is the bucket collision rate;
  *  - SimHash: narrow per-row computation, embarrassingly parallel;
  *  - cosine top-k: the query set is broadcast (bounded by construction),
  *    the corpus side streams — a linear scan per query batch. The IVF
  *    variant buckets by coarse-quantizer cell (label) so candidate pairs
  *    shuffle on the cell id, not the cross product;
  *  - text analysis: codegen'd narrow ops over the scan, no shuffle.
  */
object LlmQueries {

  /** UTF-8-binary string sort key for DRIVER-side tie-breaks: compares the
    * UTF-8 bytes unsigned, which is code-point order — exactly how Spark's
    * UTF8String and DuckDB's VARCHAR collate. `String.compareTo` orders
    * UTF-16 code units instead, which ranks supplementary-plane characters
    * (surrogate pairs, 0xD800–0xDFFF units) BELOW some BMP characters that
    * are code-point-smaller — a driver-side sortBy on raw Strings could
    * therefore disagree with the engines on equal-frequency ties (ADVICE
    * r15). Used by q98's 20-row rank assignment.
    */
  private[operators] final class Utf8Key(s: String)
      extends Ordered[Utf8Key] {
    private val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def compare(that: Utf8Key): Int = {
      val n = math.min(b.length, that.b.length)
      var i = 0
      while (i < n) {
        val d = (b(i) & 0xff) - (that.b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      b.length - that.b.length
    }
  }

  /** documents + exact duplicates (doc_id%7==0 re-keyed +10000) — built
    * in-query so the dedup operators have real duplicates to collapse; the
    * fixture itself has 500 distinct texts.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }
  private val dupCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0"""

  /** documents + near-duplicates (doc_id%10==0 re-keyed +10000 with 3 extra
    * tokens appended — token-3-gram Jaccard vs the original ≈ (n-2)/(n+1)).
    */
  private def nearCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" xtr tok end")).as("text")))
  }
  private val nearCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000, text || ' xtr tok end'
       FROM documents WHERE doc_id % 10 = 0"""

  /** Leaked eval copies (q92's plant): each eval doc (doc_id%50==0)
    * re-keyed +30001 with its full text wrapped in new context — the
    * "benchmark pasted into a web page" case. [[leakCorpus]] is a
    * (doc_id, text) frame plus its copies; [[funnelCorpus]] plants the
    * copies among its other families.
    */
  private def leakCopies(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 30001).as("doc_id"),
        concat(lit("leak ctx pre "), col("text"), lit(" post trail")).as("text"))
  private val leakCopiesSql =
    """SELECT doc_id + 30001, 'leak ctx pre ' || text || ' post trail'
       FROM documents WHERE doc_id % 50 = 0"""
  private def leakCorpus(d: DataFrame): DataFrame = d.unionByName(leakCopies(d))
  private val leakCorpusSql =
    s"""SELECT doc_id, text FROM documents
       UNION ALL $leakCopiesSql"""

  /** documents + planted TRANSITIVE near-dup chains (doc_id%10==0):
    * B(+10000) = A + ceil(n/3) doc-specific junk tokens, C(+20000) = A +
    * ceil(7n/9) junk tokens with B's junk as a prefix. Adjacent shingle
    * Jaccards are ≈ 0.75 (above the 4×4 LSH band threshold, so A~B and
    * B~C usually share a bucket) while J(A,C) ≈ 0.56 — low enough that a
    * majority of chains have NO direct A~C bucket and only a transitive
    * pass (q87) merges them; 1-hop resolution (q83's shape) would split
    * them. Junk tokens embed doc_id so chains never cross-link.
    */
  private val junkSql =
    // j junk tokens for this doc: 'jk<doc_id>x<i>' for i in 0..j-1
    (j: String) => s"""array_join(transform(sequence(0, $j - 1),
        i -> concat('jk', CAST(doc_id AS STRING), 'x', i)), ' ')"""
  /** The planted-chain corpus is FIXTURE data, not operator work — its
    * consumers (q87, q103, q125, the specs) would each regenerate the
    * same junk-token expansion per run (~2 s of q103's sf1 time was
    * corpus generation). Memoize one eagerly truncated copy
    * ([[Lineage.truncate]]) per (session, dir): the first call in a
    * session generates the corpus, and every later call — timed or not,
    * from any of the three queries — reads the truncated copy. On
    * perfbench's iterative workload (local[4]) dropping the memo raised
    * pass_s from about 0.55 s to 0.85 s. The checkpoint pins only the small
    * generated table, and keying on the session keeps suite-local
    * SparkSessions from seeing another session's dead blocks.
    *
    * ASSUMES the documents table under `dir` is immutable for the life of
    * the session (the driver's testdata contract): there is deliberately
    * no content fingerprint, so regenerating a dir in-session would keep
    * serving the stale checkpoint. Entries are evicted when the session's
    * SparkContext ends, so a long-lived JVM cycling sessions doesn't
    * accumulate dead session references or orphaned checkpoint blocks.
    */
  private val chainCorpusCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  def chainCorpus(s: SparkSession, dir: String): DataFrame =
    chainCorpusCache.getOrElseUpdate((s, dir), {
      if (!chainCorpusCache.keysIterator.exists(_._1 eq s))
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            chainCorpusCache.filterInPlace { case ((sess, _), _) => sess ne s }
        })
      val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      val n = "size(split(text, ' '))"
      val planted = d.filter(col("doc_id") % 10 === 0)
      Lineage.truncate(d.unionByName(planted.selectExpr("doc_id + 10000 AS doc_id",
        s"concat(text, ' ', ${junkSql(s"CAST(ceil($n / 3.0) AS INT)")}) AS text"))
        .unionByName(planted.selectExpr("doc_id + 20000 AS doc_id",
          s"concat(text, ' ', ${junkSql(s"CAST(ceil($n * 7.0 / 9.0) AS INT)")}) AS text")))
    })
  private val chainCorpusSql = {
    def junk(j: String) =
      s"""array_to_string([ 'jk' || CAST(doc_id AS VARCHAR) || 'x' || i
          for i in range(0, $j) ], ' ')"""
    val n = "len(string_split(text, ' '))"
    s"""SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000,
         text || ' ' || ${junk(s"CAST(ceil($n / 3.0) AS INT)")}
       FROM documents WHERE doc_id % 10 = 0
       UNION ALL SELECT doc_id + 20000,
         text || ' ' || ${junk(s"CAST(ceil($n * 7.0 / 9.0) AS INT)")}
       FROM documents WHERE doc_id % 10 = 0"""
  }

  /** q47's composite quality score (TTR + punctuation + length terms),
    * factored so q103's keep policy scores with the SAME formula the
    * quality operator reports. Both variants expect columns `text` and
    * `toks` (= text split on ' '); identical expression order on both
    * engines so the rounded doubles are bit-equal.
    */
  private val qualitySparkSql = """round(0.3 * (size(array_distinct(toks)) / size(toks))
      + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '')) / length(text))
      + 0.3 * least(size(toks) / 100.0, 1.0), 6)"""
  private val qualityDuckSql = """round(0.3 * (len(list_distinct(toks)) / len(toks))
      + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text))
      + 0.3 * least(len(toks) / 100.0, 1.0), 6)"""

  /** 3-token shingles, 1-based window starts (mirrors DuckDB range(1, n-1));
    * the Spark side computes shingle SETS with the codegen'd
    * `graft_shingles` kernel ([[graft.plans.ShingleSet]]).
    */
  private val shinglesSql = """
    [ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      for i in range(1, len(toks) - 1) ]"""

  /** DISTINCT n-token shingle set over `toks` (DuckDB side; mirrors the
    * `graft_shingles` kernel: count = len - n + 1, first-occurrence
    * dedup). One definition for every n so the window arithmetic can't
    * drift per query.
    */
  private def shingleSetSql(n: Int): String = s"""
    CASE WHEN len(toks) >= $n THEN list_distinct(
      [ array_to_string(toks[i:i+${n - 1}], ' ')
        for i in range(1, len(toks) - ${n - 2}) ])
    ELSE [] END"""

  /** 16-permutation MinHash signature, single-hash + linear-permutation
    * family (r14; the r3–r13 family paid 16 md5 digests per shingle — the
    * measured dominant cost of the whole LSH suite):
    * `h = u64(md5(shingle)[0:16]) mod p`, `sig_i = min over shingles of
    * (a_i·h + b_i) mod p`, p = 2^61−1, the frozen
    * [[graft.functions.TextHash.MinHashA]]/`MinHashB` pairs. The Spark
    * side computes this with the codegen'd `graft_minhash16` expression
    * ([[graft.plans.MinHash16]]); the oracle spells the identical
    * arithmetic in HUGEINT SQL — DuckDB's 128-bit product and `%` are
    * exact, and `('0x' || hex)::UBIGINT` parses the same first 8 digest
    * bytes the kernel uses.
    */
  private val minhashP: Long = graft.functions.TextHash.MinHashP
  private val hashListSql = s"""
    [ ('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT % $minhashP for s in sh ]"""
  private val sigSql: String =
    graft.functions.TextHash.MinHashA.zip(graft.functions.TextHash.MinHashB)
      .map { case (a, b) =>
        s"list_aggregate([ ((${a}::HUGEINT * h + $b) % $minhashP)::BIGINT for h in hs ], 'min')"
      }
      .mkString("[ ", ",\n      ", " ]")

  /** Max members a candidate-generating bucket may have. A bucket-equality
    * self-join emits k² pairs for a bucket of k members; at 100 TB,
    * boilerplate text (identical headers/footers/templates) puts millions
    * of documents into one band_key and the candidate OUTPUT explodes
    * quadratically before any skew handling can help (AQE splits
    * partitions, it cannot reduce pair count). An over-full bucket means a
    * near-universal signature whose pairs true-similarity verification
    * would mostly reject anyway, so production MinHash pipelines drop or
    * sample such buckets; we drop them. At the test SFs no organic bucket
    * comes near the cap — every oracle stays bit-exact with the same cap
    * applied on the DuckDB side — and DedupSpec plants a 500-doc
    * mega-bucket to prove the fan-out guard.
    */
  val BucketCap = 50

  /** Band table reduced to its candidate-join form: (doc_id, bk64) where
    * bk64 = xxhash64(band, band_key), with over-cap buckets dropped (see
    * [[BucketCap]]). The 8-byte hash replaces the ~76-char decimal
    * band_key as the shuffle/join key — much narrower shuffle rows for
    * identical join semantics (a 64-bit collision would only ever ADD a candidate pair,
    * which downstream true-Jaccard verification rejects). NULL band_keys
    * (docs with <3 tokens) are filtered BEFORE hashing: xxhash64 skips
    * null arguments rather than propagating them, so an unfiltered hash
    * would bucket all short docs together instead of dropping them the
    * way the string-equality join did. The per-bucket count is a window
    * over the same key the join shuffles on, so the cap adds no extra
    * exchange — and on self-joins both sides still collapse into one
    * ReusedExchange that computes the MinHash signatures once.
    */
  def cappedBands(corpus: DataFrame, cap: Int = BucketCap): DataFrame =
    bandTable(corpus)
      .filter(col("band_key").isNotNull)
      .select(col("doc_id"), xxhash64(col("band"), col("band_key")).as("bk64"))
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("bk64"))))
      .filter(col("bucket_n") <= cap)
      .select("doc_id", "bk64")

  /** Oracle-side twin of [[cappedBands]] over a band CTE named `bands`
    * (kept on the (band, band_key) strings — DuckDB has no xxhash64; the
    * hash is a Spark-side shuffle-width optimization, not a semantic).
    */
  private def cappedSql(bands: String): String = s"""
    SELECT doc_id, band, band_key FROM (
      SELECT doc_id, band, band_key,
        COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
      FROM $bands WHERE band_key IS NOT NULL) cb
    WHERE bucket_n <= $BucketCap"""

  /** LSH candidate pairs (doc_id1 < doc_id2) from capped buckets — q42's
    * generator, public so DedupSpec can prove the fan-out bound directly.
    */
  def candidatePairs(corpus: DataFrame, cap: Int = BucketCap): DataFrame = {
    val capped = cappedBands(corpus, cap)
    val a = capped.select(col("doc_id").as("doc_id1"), col("bk64"))
    val b = capped.select(col("doc_id").as("doc_id2"), col("bk64").as("bk64b"))
    // merge hint: both sides shuffle on the bucket key with identical
    // child plans, so ReusedExchange computes the MinHash signatures ONCE
    // (a broadcast self-join would evaluate the kernel on both sides) —
    // and a shuffle join is what this bucket join must be at 100 TB anyway.
    a.hint("merge").join(b,
      col("bk64") === col("bk64b") && col("doc_id1") < col("doc_id2"))
      .select("doc_id1", "doc_id2").distinct()
  }

  /** doc → (doc_id, band, band_key): 4 bands × 4 signature rows. The
    * band_key is the ':'-joined decimal rendering of the band's 4 lanes —
    * the separator matters (variable-width decimals would alias across
    * lane boundaries without it), and plain concat/|| is used on BOTH
    * sides so an all-NULL signature (doc under 3 tokens) null-propagates
    * to a NULL band_key exactly as the r13 hex concat did.
    */
  def bandTable(corpus: DataFrame): DataFrame = {
    corpus
      .select(col("doc_id"), expr("graft_minhash16(text)").as("sig"))
      .selectExpr("doc_id", """
        explode(transform(sequence(0, 3), j -> struct(
          j AS band,
          concat(cast(element_at(sig, 4*j + 1) AS string), ':',
                 cast(element_at(sig, 4*j + 2) AS string), ':',
                 cast(element_at(sig, 4*j + 3) AS string), ':',
                 cast(element_at(sig, 4*j + 4) AS string)) AS band_key))) AS b""")
      .select(col("doc_id"), col("b.band").as("band"), col("b.band_key").as("band_key"))
  }

  private def bandTableSql(corpus: String): String = s"""
    WITH corpus AS ($corpus),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
    shg AS (SELECT doc_id, $shinglesSql AS sh FROM tok),
    hsh AS (SELECT doc_id, $hashListSql AS hs FROM shg),
    sigs AS (SELECT doc_id, $sigSql AS sig FROM hsh)
    SELECT doc_id, j AS band,
      sig[4*j + 1]::VARCHAR || ':' || sig[4*j + 2]::VARCHAR || ':' ||
      sig[4*j + 3]::VARCHAR || ':' || sig[4*j + 4]::VARCHAR AS band_key
    FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS j) t"""

  /** Oracle-side twin of [[candidatePairs]] over [[nearCorpus]], as CTEs:
    * `bands`, `capped`, the distinct capped-bucket pairs `cand`
    * (doc_id1 < doc_id2), and the `corpus` they come from.
    */
  private val nearCandSql = s"""
      bands AS (${bandTableSql(nearCorpusSql)}),
      capped AS (${cappedSql("bands")}),
      cand AS (SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
               FROM capped a JOIN capped b
                 ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
      corpus AS ($nearCorpusSql)"""

  /** Oracle-side twin of [[connectedComponents]], as CTEs (under WITH
    * RECURSIVE): the capped-bucket `edges` of `corpus` — all pairs per
    * bucket where the kernel keeps a star, the same components — and
    * their closure `reach(src, dst)` from every doc_id of `nodes`.
    * `nodesCte` defines `nodes` when no earlier CTE does.
    */
  private def reachSql(corpus: String, nodes: String, nodesCte: String): String = s"""
      bands AS (${bandTableSql(corpus)}),
      capped AS (${cappedSql("bands")}),
      edges AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                FROM capped a JOIN capped b
                  ON a.band = b.band AND a.band_key = b.band_key),
      $nodesCte
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM $nodes
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  /** [[reachSql]] over the planted-chain corpus, from a `docs` CTE that
    * selects `cols` of it.
    */
  private def chainReachSql(cols: String): String =
    reachSql(chainCorpusSql, "docs", s"docs AS (SELECT $cols FROM ($chainCorpusSql)),")

  /** Oracle for q45's exact cosine top-k over the vec_id < 10 query set
    * and q66's IVF form of it, where a query ranks only its own cell
    * (`sameCell`): similarity rounded to 6 dp, then neighbor id.
    */
  private def cosineTopKSql(sameCell: Boolean, k: Int): String = {
    val (label, cell) = if (sameCell) ("label, ", "q.label = c.label AND ") else ("", "")
    s"""
      WITH n AS (SELECT vec_id, ${label}embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings)
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS sim,
          CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
                     c.vec_id) AS INT) AS rk
        FROM n q JOIN n c ON ${cell}q.vec_id < 10 AND c.vec_id <> q.vec_id) t
      WHERE rk <= $k"""
  }

  /** The literal-TRUE audit columns a scale path's oracle appends to its
    * exact anchor's select list (the q74 within-bound pattern).
    */
  private def trueCols(cols: Seq[String]): String =
    cols.map(c => s", TRUE AS $c").mkString

  /** q111's exact bigram-LM oracle; q112, its CMS scale path, adds the
    * audit columns `okCols` as literal TRUEs.
    */
  private def bigramLmSql(okCols: String*): String = s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg0 AS (SELECT doc_id,
                unnest([ struct_pack(w1 := t[i], w2 := t[i + 1])
                         for i in range(1, len(t)) ]) AS b
              FROM toks WHERE len(t) >= 2),
      bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
      v AS (SELECT COUNT(DISTINCT tok) AS vs
            FROM (SELECT unnest(t) AS tok FROM toks)),
      bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      uc AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      terms AS (SELECT bg.doc_id,
                  ((bc.c12 + 1) * 1000000) // (uc.c1 + v.vs) AS term
                FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1), v)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(term) // COUNT(*) AS BIGINT) AS lm_score_micro${trueCols(okCols)}
      FROM terms GROUP BY doc_id"""

  /** q131's exact leave-one-source-out Stupid Backoff oracle; q150, its
    * CMS scale path, adds the audit columns `okCols` as literal TRUEs.
    */
  private def stupidBackoffSql(okCols: String*): String = s"""
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                    FROM documents),
      tg0 AS (SELECT doc_id, source,
                unnest([ struct_pack(w1 := t[i], w2 := t[i + 1], w3 := t[i + 2])
                         for i in range(1, len(t) - 1) ]) AS g
              FROM toks WHERE len(t) >= 3),
      tg AS (SELECT doc_id, source, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM tg0),
      bg0 AS (SELECT source,
                unnest([ struct_pack(b1 := t[i], b2 := t[i + 1])
                         for i in range(1, len(t)) ]) AS b
              FROM toks WHERE len(t) >= 2),
      bg AS (SELECT source, b.b1 AS b1, b.b2 AS b2 FROM bg0),
      ug AS (SELECT source, unnest(t) AS u FROM toks),
      tc  AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3),
      tcs AS (SELECT w1, w2, w3, source, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3, 4),
      bc  AS (SELECT b1, b2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      bcs AS (SELECT b1, b2, source, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
      uc  AS (SELECT u, COUNT(*) AS c FROM ug GROUP BY 1),
      ucs AS (SELECT u, source, COUNT(*) AS c FROM ug GROUP BY 1, 2),
      ns  AS (SELECT source, COUNT(*) AS n_src FROM ug GROUP BY 1),
      nt  AS (SELECT COUNT(*) AS n_tot FROM ug),
      terms AS (
        SELECT s.doc_id,
          tc.c - COALESCE(tco.c, 0) AS c123x,
          b12.c - COALESCE(b12o.c, 0) AS c12x,
          b23.c - COALESCE(b23o.c, 0) AS c23x,
          u2.c - COALESCE(u2o.c, 0) AS c2x,
          u3.c - COALESCE(u3o.c, 0) AS c3x,
          nt.n_tot - ns.n_src AS nx
        FROM tg s
        JOIN tc USING (w1, w2, w3)
        LEFT JOIN tcs tco ON tco.w1 = s.w1 AND tco.w2 = s.w2
          AND tco.w3 = s.w3 AND tco.source = s.source
        JOIN bc b12 ON b12.b1 = s.w1 AND b12.b2 = s.w2
        LEFT JOIN bcs b12o ON b12o.b1 = s.w1 AND b12o.b2 = s.w2
          AND b12o.source = s.source
        JOIN bc b23 ON b23.b1 = s.w2 AND b23.b2 = s.w3
        LEFT JOIN bcs b23o ON b23o.b1 = s.w2 AND b23o.b2 = s.w3
          AND b23o.source = s.source
        JOIN uc u2 ON u2.u = s.w2
        LEFT JOIN ucs u2o ON u2o.u = s.w2 AND u2o.source = s.source
        JOIN uc u3 ON u3.u = s.w3
        LEFT JOIN ucs u3o ON u3o.u = s.w3 AND u3o.source = s.source
        JOIN ns ON ns.source = s.source, nt),
      scored AS (
        SELECT doc_id,
          CASE WHEN c123x > 0 THEN (c123x * 1000000) // c12x
               WHEN c23x > 0 THEN (c23x * 400000) // c2x
               WHEN c3x > 0 THEN (c3x * 160000) // nx
               ELSE 0 END AS term,
          CASE WHEN c123x > 0 THEN 3 WHEN c23x > 0 THEN 2
               WHEN c3x > 0 THEN 1 ELSE 0 END AS lvl
        FROM terms)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        CAST(SUM(term) // COUNT(*) AS BIGINT) AS sb_score_micro,
        CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hit,
        CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_hit,
        CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_hit,
        CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov${trueCols(okCols)}
      FROM scored GROUP BY doc_id"""

  /** q92's exact decontamination oracle, which is q113's as well: the
    * Bloom pre-filter must return exactly q92's rows.
    */
  private val decontamSql = s"""
      WITH corpus AS (
        $leakCorpusSql),
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      sh AS (SELECT doc_id, unnest(${shingleSetSql(5)}) AS sh,
             len(${shingleSetSql(5)}) AS n_sh
           FROM tok),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
      SELECT s.doc_id, COUNT(*) AS n_hits,
        round(COUNT(*) / MAX(s.n_sh), 6) AS contaminated_frac
      FROM sh s JOIN ev USING (sh)
      WHERE s.doc_id % 50 <> 0
      GROUP BY s.doc_id"""

  /** q95's per-language sampling-rate table, which q100 applies:
    * (lang, toks, total, rate). The per-lang token totals checkpoint
    * ONCE (one corpus aggregation job); the corpus-wide denominator is a
    * driver-side sum over the ≤|langs| rows, injected as a BIGINT
    * literal — a `SUM(toks) OVER ()` computes the same value but plans a
    * single-partition WindowExec (VERDICT r14 #7). Same exact integer,
    * zero window.
    */
  private def mixtureRates(docs: DataFrame): DataFrame = {
    val t = Lineage.truncate(docs.groupBy("lang")
      .agg(sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("toks")))
    // null-guarded like the SUM(toks) OVER () this replaced (which skips
    // nulls): a lang whose docs all have null text sums to a null cell
    val total = graft.Bounded.collect(t, cap = 64,
      what = "per-lang token totals")
      .map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
    t.selectExpr("lang", "toks",
        s"CAST($total AS BIGINT) AS total",
        """CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
           ELSE CAST(0.15 AS DOUBLE) END AS target""")
      .selectExpr("lang", "toks", "total",
        "round(least(CAST(1.0 AS DOUBLE), target * total / toks), 6) AS rate")
  }

  /** [[mixtureRates]]' oracle CTEs, ending in `r` = (lang, `keep`, rate). */
  private def mixtureRatesSql(keep: Seq[String]): String = s"""
      t AS (SELECT lang,
          CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS toks
        FROM documents GROUP BY lang),
      w AS (SELECT lang, toks, CAST(SUM(toks) OVER () AS BIGINT) AS total,
          CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
               ELSE CAST(0.15 AS DOUBLE) END AS target
        FROM t),
      r AS (SELECT lang, ${keep.map(_ + ", ").mkString}
          round(least(CAST(1.0 AS DOUBLE), target * total / toks), 6) AS rate
        FROM w)"""

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- Q40
    // Exact deduplication: content-hash groupBy keeping the lowest doc_id.
    // One shuffle on md5(text); partial agg collapses map-side.
    Q("q40_exact_dedup", Some(s"""
      WITH corpus AS ($dupCorpusSql)
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
             COUNT(*) AS n_copies
      FROM corpus GROUP BY md5(text)""")) { (s, dir) =>
      dupCorpus(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    },

    // ---------------------------------------------------------------- Q41
    // MinHash signatures + LSH banding: the per-document bucket table that
    // drives fuzzy dedup. 16 hash family members, 4 bands of 4 rows.
    Q("q41_minhash_bands", Some(bandTableSql("SELECT doc_id, text FROM documents"))) {
      (s, dir) => bandTable(Tables.t(s, dir, "documents").select(col("doc_id"), col("text")))
    },

    // ---------------------------------------------------------------- Q42
    // Fuzzy dedup end-to-end: LSH candidate pairs (bucket-equality join on
    // the capped, 8-byte-hashed bucket key — never all-pairs, never an
    // unbounded hot bucket; see BucketCap/cappedBands) verified by true
    // token-3-gram Jaccard >= 0.5. Finds the planted near-duplicates.
    Q("q42_lsh_neardup", Some(s"""
      WITH $nearCandSql,
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      shs AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM tok)
      SELECT doc_id1, doc_id2,
        len(list_intersect(x.sh, y.sh)) /
          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
      FROM cand JOIN shs x ON doc_id1 = x.doc_id JOIN shs y ON doc_id2 = y.doc_id
      WHERE len(list_intersect(x.sh, y.sh)) /
          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.5""")) { (s, dir) =>
      val cand = candidatePairs(nearCorpus(s, dir))
      // graft_shingles == array_distinct of the transform-built list (both
      // first-occurrence order), minus the interpreted HOF lambda
      val shs = nearCorpus(s, dir)
        .selectExpr("doc_id", "graft_shingles(text, 3) AS sh")
      val x = shs.select(col("doc_id").as("xid"), col("sh").as("xsh"))
      val y = shs.select(col("doc_id").as("yid"), col("sh").as("ysh"))
      cand.join(x, col("doc_id1") === col("xid")).join(y, col("doc_id2") === col("yid"))
        .withColumn("inter", size(array_intersect(col("xsh"), col("ysh"))))
        .withColumn("jaccard",
          col("inter") / (size(col("xsh")) + size(col("ysh")) - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("doc_id1", "doc_id2", "jaccard")
    },

    // ---------------------------------------------------------------- Q43
    // SimHash document fingerprints: 64-bit signature from per-token md5
    // bit-majorities, emitted as a 64-char bit string. Narrow per-row op.
    Q("q43_simhash", Some("""
      WITH tok AS (SELECT doc_id, [md5(t) for t in string_split(text, ' ')] AS hs
                   FROM documents)
      SELECT doc_id, array_to_string(
        [ CASE WHEN list_sum([ CASE WHEN
              ((strpos('0123456789abcdef', substr(h, 1 + CAST(floor(b/4) AS INT), 1)) - 1)
                >> (3 - b % 4)) % 2 = 1
            THEN 1 ELSE -1 END for h in hs ]) >= 0 THEN '1' ELSE '0' END
          for b in range(0, 64) ], '') AS simhash
      FROM tok""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), expr("graft_simhash64(text)").as("simhash"))
    },

    // ---------------------------------------------------------------- Q67
    // SimHash near-dup pairing, at SIGNATURE granularity: 64-bit
    // fingerprints split into 6 pigeonhole blocks of 10–11 bits — Hamming
    // ≤ 5 can flip at most 5 blocks, so every qualifying pair still shares
    // one intact block (guaranteed recall), but each block now has 2^10+
    // values instead of the 2^8 an 8-block split gives, so random bucket
    // crowding shrinks 4–8×. The join runs over DISTINCT signatures, not
    // docs: bag-of-words-identical documents (reordered boilerplate)
    // collapse to ONE row before the quadratic step, and their pairs are
    // emitted afterwards by an output-bound expansion join — the sf0.1→sf1
    // scale run caught the doc-level formulation going quadratic (1.4 s →
    // 59 s for 10× docs; this is the fix). Over-cap buckets (>BucketCap
    // distinct sigs sharing a block value — mass boilerplate) are dropped
    // like every LSH-family generator; Hamming verification is two
    // codegen'd xor+bit_count ops on 32-bit halves, not a 64-char string
    // walk.
    Q("q67_simhash_neardup", Some(s"""
      WITH corpus AS ($nearCorpusSql),
      sh AS (SELECT doc_id, array_to_string(
          [ CASE WHEN list_sum([ CASE WHEN
                ((strpos('0123456789abcdef', substr(md5(t), 1 + CAST(floor(b/4) AS INT), 1)) - 1)
                  >> (3 - b % 4)) % 2 = 1
              THEN 1 ELSE -1 END for t in string_split(text, ' ') ]) >= 0
            THEN '1' ELSE '0' END for b in range(0, 64) ], '') AS sim
        FROM corpus),
      dsig AS (SELECT DISTINCT sim FROM sh),
      blocks AS (SELECT sim, j AS bi,
          substr(sim, (64*j)//6 + 1, (64*(j+1))//6 - (64*j)//6) AS blk
        FROM dsig, (SELECT unnest([0,1,2,3,4,5]) AS j) t),
      capped AS (SELECT sim, bi, blk FROM (
          SELECT sim, bi, blk, COUNT(*) OVER (PARTITION BY bi, blk) AS bucket_n
          FROM blocks) cb
        WHERE bucket_n <= $BucketCap),
      spair AS (SELECT DISTINCT a.sim AS sim1, b.sim AS sim2
                FROM capped a JOIN capped b
                  ON a.bi = b.bi AND a.blk = b.blk AND a.sim < b.sim),
      near AS (SELECT sim1, sim2, hamming FROM (
          SELECT sim1, sim2,
            CAST(list_sum([ CASE WHEN substr(sim1, i, 1) <> substr(sim2, i, 1)
              THEN 1 ELSE 0 END for i in range(1, 65) ]) AS INT) AS hamming
          FROM spair) hs
        WHERE hamming <= 5)
      SELECT least(a.doc_id, b.doc_id) AS doc_id1,
             greatest(a.doc_id, b.doc_id) AS doc_id2, hamming
      FROM near JOIN sh a ON a.sim = near.sim1 JOIN sh b ON b.sim = near.sim2
      UNION ALL
      SELECT a.doc_id, b.doc_id, CAST(0 AS INT)
      FROM sh a JOIN sh b ON a.sim = b.sim AND a.doc_id < b.doc_id""")) { (s, dir) =>
      val sigs = nearCorpus(s, dir)
        .select(col("doc_id"), expr("graft_simhash64(text)").as("sim"))
      val dsig = sigs.select(col("sim")).distinct()
        .selectExpr("sim",
          "CAST(conv(substring(sim, 1, 32), 2, 10) AS BIGINT) AS hi",
          "CAST(conv(substring(sim, 33, 32), 2, 10) AS BIGINT) AS lo")
      val blocks = dsig.selectExpr("sim", "hi", "lo", """
          explode(transform(sequence(0, 5), j -> struct(j AS bi,
            substring(sim, CAST((64 * j) DIV 6 AS INT) + 1,
              CAST((64 * (j + 1)) DIV 6 AS INT) - CAST((64 * j) DIV 6 AS INT)) AS blk))) AS b""")
        .select(col("sim"), col("hi"), col("lo"),
          xxhash64(col("b.bi"), col("b.blk")).as("bk64"))
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy(col("bk64"))))
        .filter(col("bucket_n") <= BucketCap)
        .select("sim", "hi", "lo", "bk64")
      val l = blocks.select(col("sim").as("sim1"), col("hi").as("hi1"),
        col("lo").as("lo1"), col("bk64"))
      val r = blocks.select(col("sim").as("sim2"), col("hi").as("hi2"),
        col("lo").as("lo2"), col("bk64").as("bk64b"))
      val simPairs = l.hint("merge").join(r,
        col("bk64") === col("bk64b") && col("sim1") < col("sim2"))
        .select("sim1", "sim2", "hi1", "lo1", "hi2", "lo2").distinct()
        .selectExpr("sim1", "sim2",
          "CAST(bit_count(hi1 ^ hi2) + bit_count(lo1 ^ lo2) AS INT) AS hamming")
        .filter(col("hamming") <= 5)
      val cross = simPairs
        .join(sigs.select(col("sim").as("sim1"), col("doc_id").as("ida")), "sim1")
        .join(sigs.select(col("sim").as("sim2"), col("doc_id").as("idb")), "sim2")
        .select(least(col("ida"), col("idb")).as("doc_id1"),
          greatest(col("ida"), col("idb")).as("doc_id2"), col("hamming"))
      val intra = sigs.select(col("sim"), col("doc_id").as("doc_id1"))
        .hint("merge")
        .join(sigs.select(col("sim").as("simb"), col("doc_id").as("doc_id2")),
          col("sim") === col("simb") && col("doc_id1") < col("doc_id2"))
        .select(col("doc_id1"), col("doc_id2"),
          lit(0).cast("int").as("hamming"))
      cross.unionByName(intra)
    },

    // ---------------------------------------------------------------- Q44
    // Exact n-gram Jaccard similarity between consecutive documents —
    // the verification metric of q42 exercised standalone, int/int division
    // is bit-exact on both engines.
    Q("q44_ngram_jaccard", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      shs AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM tok)
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        len(list_intersect(a.sh, b.sh)) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      FROM shs a JOIN shs b ON b.doc_id = a.doc_id + 1""")) { (s, dir) =>
      val shs = Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "graft_shingles(text, 3) AS sh")
      val a = shs.select(col("doc_id").as("doc_id1"), col("sh").as("xsh"))
      val b = shs.select(col("doc_id").as("doc_id2"), col("sh").as("ysh"))
      a.join(b, col("doc_id2") === col("doc_id1") + 1)
        .withColumn("inter", size(array_intersect(col("xsh"), col("ysh"))))
        .select(col("doc_id1"), col("doc_id2"),
          (col("inter") / (size(col("xsh")) + size(col("ysh")) - col("inter")))
            .as("jaccard"))
    },

    // ---------------------------------------------------------------- Q45
    // Brute-force cosine top-10 for a bounded query set (vec_id < 10): the
    // exact-ANN baseline. Query side broadcast, corpus side a linear scan;
    // similarity rounded to 6 dp BEFORE ranking so order is deterministic.
    Q("q45_cosine_topk", Some(cosineTopKSql(sameCell = false, k = 10))) { (s, dir) =>
      val n = Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS double)) AS v")
        .select(col("vec_id"), col("v"),
          sqrt(expr("graft_vector_dot(v, v)")).as("nrm"))
      val q = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = n.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(expr("graft_vector_dot(qv, v)") / (col("qn") * col("nrm")), 6)
            .as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
    },

    // ---------------------------------------------------------------- Q46
    // IVF-bucketed near-duplicate embeddings — the EXACT-RECALL ANCHOR for
    // q108: candidate pairs only within a coarse-quantizer cell (label),
    // cosine >= 0.9, over a BOUNDED sample of the corpus
    // ([[VectorQueries.anchorBase]]): base vec_ids are kept when a
    // Knuth-multiplicative hash lands on 0 mod m, with m sized so the
    // sample holds ~4096 vectors at every corpus size. Within-cell
    // all-pairs is quadratic in cell size by nature — the r10 anchor
    // measured 88.5M pairs / 24 s at sf2, 4× per 2× — so the anchor now
    // measures recall on a fixed pair budget (~1M pairs at any scale),
    // the way production systems validate ANN recall: exact ground truth
    // on a sample, never all-pairs on the corpus. m = 1 at every
    // correctness-fixture scale (≤ 4096 vectors), so the gate and the
    // VectorSpec recall pin see the historical full anchor; planted pairs
    // share their sample fate by construction (the hash keys on the BASE
    // id, before the +10000 twin is planted). The oracle derives the same
    // m from COUNT(*) — both engines sample in lockstep.
    Q("q46_ivf_neardup", Some(s"""
      WITH ${graft.operators.VectorQueries.anchorSampleSql},
      base AS (
        SELECT vec_id, label, v FROM samp
        UNION ALL
        SELECT vec_id + ${graft.operators.VectorQueries.variantOffsetSql}, label,
          [ CASE WHEN i = 1 THEN 0 ELSE v[i] END
            for i in range(1, len(v) + 1) ]
        FROM samp WHERE vec_id % 20 = 0),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM base)
      SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
        round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.9""")) { (s, dir) =>
      val n = graft.operators.VectorQueries.anchorBase(s, dir)
        .select(col("vec_id"), col("label"), col("v"),
          sqrt(expr("graft_vector_dot(v, v)")).as("nrm"))
      val a = n.select(col("vec_id").as("vec_id1"), col("label"),
        col("v").as("va"), col("nrm").as("na"))
      val b = n.select(col("vec_id").as("vec_id2"), col("label").as("label2"),
        col("v").as("vb"), col("nrm").as("nb"))
      // merge hint → identical shuffles on the cell id on both sides →
      // ReusedExchange evaluates the norm computation once; the inequality
      // pair predicate applies inside each cell partition.
      a.hint("merge").join(b, col("label") === col("label2") && col("vec_id1") < col("vec_id2"))
        .select(col("vec_id1"), col("vec_id2"),
          round(expr("graft_vector_dot(va, vb)") / (col("na") * col("nb")), 6)
            .as("sim"))
        .filter(col("sim") >= 0.9)
    },

    // ---------------------------------------------------------------- Q66
    // IVF top-k, probe=1 — the ANN scale path of q45: each query probes
    // ONLY its own coarse cell (label), so per-query work is cell-sized,
    // not corpus-sized; recall is traded for the 1/#cells cost cut. One
    // shuffle on the cell id; candidate lists never leave their cell.
    Q("q66_ivf_topk", Some(cosineTopKSql(sameCell = true, k = 5))) { (s, dir) =>
      val n = Tables.t(s, dir, "embeddings")
        .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS double)) AS v")
        .select(col("vec_id"), col("label"), col("v"),
          sqrt(expr("graft_vector_dot(v, v)")).as("nrm"))
      val q = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("v").as("qv"), col("nrm").as("qn"))
      val scored = n.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(expr("graft_vector_dot(qv, v)") / (col("qn") * col("nrm")), 6)
            .as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
    },

    // ---------------------------------------------------------------- Q47
    // Text quality scoring: type-token ratio, punctuation density, stopword
    // ratio, composite score — the standard pre-training quality filters.
    // All narrow codegen'd ops; identical expression order on both engines.
    Q("q47_text_quality", Some(s"""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id,
        len(toks) AS n_tok,
        round(len(list_distinct(toks)) / len(toks), 6) AS ttr,
        round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text), 6) AS punct_ratio,
        round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t)))
          / len(toks), 6) AS stop_ratio,
        $qualityDuckSql AS quality
      FROM t""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "size(toks) AS n_tok",
          "round(size(array_distinct(toks)) / size(toks), 6) AS ttr",
          "round(length(regexp_replace(text, '[a-z0-9 ]', '')) / length(text), 6) AS punct_ratio",
          """round(size(filter(toks, t -> array_contains(array('the','a','of','and','to'), t)))
             / size(toks), 6) AS stop_ratio""",
          s"$qualitySparkSql AS quality")
    },

    // ---------------------------------------------------------------- Q48
    // Language-ID heuristic: stopword-profile hit ratios per candidate
    // language, argmax with a fixed priority tie-break. (The fixture's lang
    // column is a synthetic label over a shared vocabulary, so the oracle
    // checks scorer parity, not ground-truth recovery.)
    Q("q48_lang_id", Some("""
      WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, lang,
        round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) / len(toks), 6) AS s_en,
        round(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist'], t))) / len(toks), 6) AS s_de,
        round(len(list_filter(toks, t -> list_contains(['el','la','de','que','los'], t))) / len(toks), 6) AS s_es,
        round(len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) / len(toks), 6) AS s_fr
      FROM t)
      SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
        CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS predicted
      FROM s""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "split(text, ' ') AS toks")
        .selectExpr("doc_id", "lang",
          "round(size(filter(toks, t -> array_contains(array('the','a','of','and','to'), t))) / size(toks), 6) AS s_en",
          "round(size(filter(toks, t -> array_contains(array('der','die','und','das','ist'), t))) / size(toks), 6) AS s_de",
          "round(size(filter(toks, t -> array_contains(array('el','la','de','que','los'), t))) / size(toks), 6) AS s_es",
          "round(size(filter(toks, t -> array_contains(array('le','la','et','les','des'), t))) / size(toks), 6) AS s_fr")
        .selectExpr("doc_id", "lang", "s_en", "s_de", "s_es", "s_fr",
          """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS predicted""")
    },

    // ---------------------------------------------------------------- Q49
    // Token counting (whitespace + BPE-ish regex) and a winnowing-style
    // content fingerprint (min md5 over 5-token shingles).
    Q("q49_token_fingerprint", Some("""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id,
        len(toks) AS ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
        list_aggregate(
          [ md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
            for i in range(1, len(toks) - 3) ], 'min') AS fingerprint
      FROM t""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "size(toks) AS ws_tokens",
          "CAST(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS BIGINT) AS bpe_tokens",
          """array_min(transform(sequence(1, size(toks) - 4), i ->
               md5(concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                 element_at(toks, i + 2), element_at(toks, i + 3), element_at(toks, i + 4)))))
             AS fingerprint""")
    },

    // ---------------------------------------------------------------- Q83
    // Dedup RESOLUTION — the keep-one step after candidate generation: each
    // doc's canonical id is the minimum doc_id among its LSH-bucket
    // neighbors (1-hop, itself included); only canonical docs survive.
    // 1-hop min is deterministic and SQL-expressible on both engines; a
    // full connected-components pass would iterate this same join to a
    // fixed point (q87). The neighbor join runs over capped, 8-byte-hashed
    // buckets (BucketCap); the output row set is anchored on the banded
    // docs themselves (≥3 tokens — the docs that HAVE a signature), so a
    // doc whose every bucket is over-cap still resolves — to itself, the
    // right answer for a doc whose only neighbors are boilerplate-bucket
    // artifacts verification would reject.
    Q("q83_dedup_resolve", Some(s"""
      WITH bands AS (${bandTableSql(nearCorpusSql)}),
      capped AS (${cappedSql("bands")}),
      nbr AS (
        SELECT a.doc_id, min(b.doc_id) AS nbr_min
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.band_key = b.band_key
        GROUP BY a.doc_id),
      docs AS (SELECT doc_id FROM ($nearCorpusSql) c
               WHERE len(string_split(text, ' ')) >= 3)
      SELECT d.doc_id, COALESCE(n.nbr_min, d.doc_id) AS canonical,
             d.doc_id = COALESCE(n.nbr_min, d.doc_id) AS kept
      FROM docs d LEFT JOIN nbr n ON d.doc_id = n.doc_id""")) { (s, dir) =>
      val corpus = nearCorpus(s, dir)
      val capped = cappedBands(corpus)
      val a = capped.select(col("doc_id"), col("bk64"))
      val b = capped.select(col("doc_id").as("nbr_id"), col("bk64").as("bk64b"))
      // same exchange-reuse shape as q42: both sides shuffle on the bucket
      // key with identical child plans → MinHash computed once
      val nbrMin = a.hint("merge").join(b, col("bk64") === col("bk64b"))
        .groupBy(col("doc_id"))
        .agg(min(col("nbr_id")).as("nbr_min"))
      corpus.filter(size(split(col("text"), " ")) >= 3).select("doc_id")
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nbr_min"), col("doc_id")).as("canonical"))
        .select(col("doc_id"), col("canonical"),
          (col("doc_id") === col("canonical")).as("kept"))
    },

    // ---------------------------------------------------------------- Q91
    // Gopher-style quality FILTER rules — the repetition/shape heuristics a
    // pre-training pipeline applies after q47's scoring: duplicate-2-gram
    // ratio (boilerplate/repetition detector), mean word length band,
    // terminal-punctuation check, and the fused keep/drop decision. All
    // narrow codegen'd ops over the scan; int/int ratios are bit-exact on
    // both engines, rounded before the threshold compare. The corpus
    // plants repetitive spam (+40000: one 2-gram repeated 20×) that the
    // duplicate-ratio rule must DROP — the fixture's organic docs are all
    // clean, so without the plants the drop branch would be untested.
    // Arithmetic identities keep everything codegen'd: with an n_tok-way
    // single-space split, sum(token lengths) == length(text) - (n_tok - 1)
    // exactly (n_tok - 1 separators), so mean word length needs no
    // per-token loop; the distinct-2-gram count is the graft_shingles
    // kernel (the HOF formulation is interpreter-bound — see TextHash).
    Q("q91_quality_rules", Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 40000, rtrim(repeat('buy now ', 20))
        FROM documents WHERE doc_id % 25 = 0),
      t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok,
              len(list_distinct(
                [ string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  for i in range(1, len(string_split(text, ' '))) ])) AS d2
            FROM corpus),
      m AS (SELECT doc_id,
              round(1.0 - d2 / (n_tok - 1), 6) AS dup_2gram_ratio,
              round((length(text) - (n_tok - 1)) / n_tok, 6) AS mean_word_len,
              substr(text, length(text), 1) IN ('.', '!', '?') AS ends_terminal,
              n_tok
            FROM t)
      SELECT doc_id, dup_2gram_ratio, mean_word_len, ends_terminal,
        (dup_2gram_ratio <= 0.3 AND mean_word_len BETWEEN 2.0 AND 12.0
          AND n_tok >= 10) AS keep
      FROM m""")) { (s, dir) =>
      val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      d.unionByName(d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          expr("rtrim(repeat('buy now ', 20))").as("text")))
        .selectExpr("doc_id", "text", "size(split(text, ' ')) AS n_tok",
          "size(graft_shingles(text, 2)) AS d2")
        .selectExpr("doc_id",
          "round(1.0 - d2 / (n_tok - 1), 6) AS dup_2gram_ratio",
          "round((length(text) - (n_tok - 1)) / n_tok, 6) AS mean_word_len",
          "substring(text, length(text), 1) IN ('.', '!', '?') AS ends_terminal",
          "n_tok")
        .selectExpr("doc_id", "dup_2gram_ratio", "mean_word_len", "ends_terminal",
          """(dup_2gram_ratio <= 0.3 AND mean_word_len BETWEEN 2.0 AND 12.0
             AND n_tok >= 10) AS keep""")
    },

    // ---------------------------------------------------------------- Q92
    // Benchmark DECONTAMINATION — the eval-overlap sweep every training
    // pipeline runs before a data release: docs sharing any 5-token shingle
    // with the "benchmark set" (here: doc_id%50==0 stands in for an eval
    // suite) are flagged with hit counts and the contaminated fraction of
    // their shingles. The corpus plants leaked copies (+30001: an eval
    // doc's full text wrapped in new context — the classic "benchmark
    // pasted into a web page" case) that must surface with frac ≈ 1.
    // At 100 TB: the eval shingle set is tiny and BROADCASTS; the corpus
    // side is one narrow explode + broadcast-join + per-doc
    // re-aggregation — no corpus-wide shuffle.
    Q("q92_decontaminate", Some(decontamSql)) { (s, dir) =>
      val corpus = leakCorpus(
        Tables.t(s, dir, "documents").select(col("doc_id"), col("text")))
      val sh = corpus
        .selectExpr("doc_id", "graft_shingles(text, 5) AS shs")
        .selectExpr("doc_id", "size(shs) AS n_sh", "explode(shs) AS sh")
      val ev = sh.filter(col("doc_id") % 50 === 0).select("sh").distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          round(count(lit(1)) / max(col("n_sh")), 6).as("contaminated_frac"))
    },

    // ---------------------------------------------------------------- Q93
    // Context-window PACKING — the concat-and-chunk step that turns a doc
    // stream into fixed-size training sequences: docs are concatenated in
    // a deterministic order within each PACK SHARD and cut into 512-token
    // bins; each doc reports its (shard, bin, offset). The pack shard is
    // (lang, doc_id div 200): packing a 100 TB corpus under one window per
    // LANGUAGE would give |langs|-way parallelism and a multi-TB
    // partition sort, so the unit of packing must be a bounded shard —
    // exactly how packed pre-training data is laid out (per-file/ per-
    // shard packing, bins never span shards). The window cumsum is then
    // partition-local over ≤200 docs, and the shuffle key has
    // |langs| × corpus/200 distinct values.
    Q("q93_pack_sequences", Some("""
      WITH t AS (SELECT doc_id, lang, doc_id // 200 AS pack_shard,
                   len(string_split(text, ' ')) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, lang, pack_shard, n_tok,
              SUM(n_tok) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
            FROM t)
      SELECT doc_id, lang, pack_shard, CAST(n_tok AS BIGINT) AS n_tok,
        CAST((cum - n_tok) // 512 AS BIGINT) AS bin_id,
        CAST((cum - n_tok) % 512 AS BIGINT) AS tok_offset
      FROM c""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "doc_id div 200 AS pack_shard",
          "size(split(text, ' ')) AS n_tok")
        .selectExpr("doc_id", "lang", "pack_shard", "n_tok", """
          SUM(n_tok) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum""")
        .selectExpr("doc_id", "lang", "pack_shard", "CAST(n_tok AS BIGINT) AS n_tok",
          "CAST((cum - n_tok) div 512 AS BIGINT) AS bin_id",
          "CAST((cum - n_tok) % 512 AS BIGINT) AS tok_offset")
    },

    // ---------------------------------------------------------------- Q94
    // Quality-quantile data SELECTION — keep the top 25% of docs per
    // language by the q47 quality score (the DCLM/FineWeb-style "filter by
    // model/heuristic score within each domain" step). percent_rank with a
    // doc_id tie-break is deterministic on both engines and exact — the
    // oracle-able form. At 100 TB the per-language window sort becomes the
    // bottleneck (|langs|-way parallelism); the scale path is the q88
    // pattern: approx_percentile(quality, 0.75) per language (tiny,
    // broadcast) and a scan-side `quality >= threshold` filter — same
    // selection, no sort. The exact form stays as the correctness anchor.
    Q("q94_select_topq", Some("""
      WITH s AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks, text
        FROM documents),
      q AS (SELECT doc_id, lang,
        round(0.3 * (len(list_distinct(toks)) / len(toks))
            + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text))
            + 0.3 * least(len(toks) / 100.0, 1.0), 6) AS quality
      FROM s)
      SELECT doc_id, lang, quality,
        round(percent_rank() OVER (PARTITION BY lang
          ORDER BY quality DESC, doc_id), 6) AS pr,
        percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
          <= 0.25 AS selected
      FROM q""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "split(text, ' ') AS toks", "text")
        .selectExpr("doc_id", "lang",
          """round(0.3 * (size(array_distinct(toks)) / size(toks))
              + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '')) / length(text))
              + 0.3 * least(size(toks) / 100.0, 1.0), 6) AS quality""")
        .selectExpr("doc_id", "lang", "quality", """
          round(percent_rank() OVER (PARTITION BY lang
            ORDER BY quality DESC, doc_id), 6) AS pr""", """
          percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
            <= 0.25 AS selected""")
    },

    // ---------------------------------------------------------------- Q99
    // Quality-quantile selection, SCALE PATH — q94's documented alternative
    // made runnable: approx_percentile(quality, 0.75) per language (one
    // pass, bounded mergeable sketch state), the |langs|-row threshold
    // table broadcast back, and a scan-side `quality >= threshold` filter.
    // Same selection as q94 with NO per-language window sort over the
    // corpus (q94's 100 TB bottleneck: |langs|-way parallelism on a
    // multi-TB partition sort). Sketch estimates are not cross-engine
    // reproducible, so the oracle uses the q74/q88 within-bound pattern:
    // Spark emits per-language exact doc counts plus a "selected fraction
    // within the sketch's rank-error bound of 25%" boolean; DuckDB emits
    // the same exacts with literal TRUE. The bound allows the quantile
    // rank error plus one doc of granularity (1/n — exact at the sketch's
    // small-group degenerate case, where the estimate is a real element).
    Q("q99_select_scale", Some(s"""
      WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks, text
                 FROM documents),
      q AS (SELECT lang,
        round(0.3 * (len(list_distinct(toks)) / len(toks))
            + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text))
            + 0.3 * least(len(toks) / 100.0, 1.0), 6) AS quality
      FROM s)
      SELECT lang, COUNT(*) AS n_docs, TRUE AS sel_frac_ok
      FROM q GROUP BY lang""")) { (s, dir) =>
      val scored = Tables.t(s, dir, "documents")
        .selectExpr("lang", "split(text, ' ') AS toks", "text")
        .selectExpr("lang",
          """round(0.3 * (size(array_distinct(toks)) / size(toks))
              + 0.4 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '')) / length(text))
              + 0.3 * least(size(toks) / 100.0, 1.0), 6) AS quality""")
      val thresholds = scored.groupBy("lang")
        .agg(expr("approx_percentile(quality, 0.75)").as("thresh"))
      scored.join(broadcast(thresholds), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality") >= col("thresh"), 1L).otherwise(0L)).as("n_sel"))
        .select(col("lang"), col("n_docs"),
          (abs(col("n_sel") / col("n_docs") - 0.25)
            <= lit(0.03) + lit(1.0) / col("n_docs")).as("sel_frac_ok"))
    },

    // --------------------------------------------------------------- Q100
    // Mixture APPLICATION — the sampler that consumes q95's rate table:
    // each doc keeps iff its deterministic md5 fraction (first 8 hex of
    // md5(doc_id) read as a uint32) falls below its language's sampling
    // rate. The rate-vs-fraction compare happens in HEX-STRING space
    // (threshold = printf('%08x', floor(rate·2³²))) so no engine ever
    // parses hex to int — both sides compare the same 8-char strings, and
    // a rate capped at 1.0 short-circuits to keep-all (its 9-char hex
    // threshold would mis-compare lexicographically). Per-language keep
    // counts are exact on both engines because md5 is. At 100 TB: the
    // rate table is |langs| rows broadcast onto a narrow scan — the
    // keep/drop decision never shuffles the corpus.
    Q("q100_mixture_apply", Some(s"""
      WITH ${mixtureRatesSql(Nil)}
      SELECT d.lang, r.rate, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN r.rate >= 1.0
              OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                 < printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT))
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN r USING (lang)
      GROUP BY d.lang, r.rate""")) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val rates = mixtureRates(docs).select("lang", "rate")
      docs.join(broadcast(rates), "lang")
        .groupBy("lang", "rate")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rate") >= 1.0 ||
              expr("substr(md5(CAST(doc_id AS STRING)), 1, 8)") <
                expr("format_string('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))"),
            1L).otherwise(0L)).as("n_kept"))
        .select("lang", "rate", "n_docs", "n_kept")
    },

    // --------------------------------------------------------------- Q101
    // PII REDACTION — the scrubbing pass a corpus takes before release:
    // emails and phone-shaped numbers are counted and replaced with
    // placeholder tokens. Patterns avoid backslash escapes entirely
    // (`[.]` instead of `\.`) so Java regex and DuckDB's RE2 parse them
    // identically; replacement is global on both sides (DuckDB needs the
    // explicit 'g' flag — the q84 discipline). The corpus plants PII
    // (doc_id%30==0 gains an email + phone suffix) because the organic
    // fixture text is clean — without the plants the redaction branch
    // would be untested. Narrow codegen'd scan ops; nothing shuffles.
    Q("q101_pii_scrub", Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 30 <> 0
        UNION ALL
        SELECT doc_id, text || ' contact bob@example.com or call 555-0123 now'
        FROM documents WHERE doc_id % 30 = 0)
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+[.][a-z]+')) AS BIGINT)
          AS n_email,
        CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        regexp_replace(regexp_replace(text,
          '[a-z0-9]+@[a-z0-9]+[.][a-z]+', '[EMAIL]', 'g'),
          '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS scrubbed
      FROM corpus""")) { (s, dir) =>
      val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      d.filter(col("doc_id") % 30 =!= 0)
        .unionByName(d.filter(col("doc_id") % 30 === 0)
          .select(col("doc_id"),
            concat(col("text"),
              lit(" contact bob@example.com or call 555-0123 now")).as("text")))
        .selectExpr("doc_id",
          "CAST(regexp_count(text, '[a-z0-9]+@[a-z0-9]+[.][a-z]+') AS BIGINT) AS n_email",
          "CAST(regexp_count(text, '[0-9]{3}-[0-9]{4}') AS BIGINT) AS n_phone",
          """regexp_replace(regexp_replace(text,
             '[a-z0-9]+@[a-z0-9]+[.][a-z]+', '[EMAIL]'),
             '[0-9]{3}-[0-9]{4}', '[PHONE]') AS scrubbed""")
    },

    // --------------------------------------------------------------- Q102
    // Per-SOURCE document cap + blocklist — the domain-level curation
    // step (cap any one domain's contribution, drop blocklisted domains
    // outright). The cap is the q9 discipline applied to curation: a
    // bounded TopKByValue aggregate (≤40 rows per source per map task,
    // two-phase) instead of a window rank, whose parallelism ceiling is
    // #sources and whose hot-source partition sort is exactly what a
    // crawl's mega-domain would blow up. The corpus plants a hot source
    // (100 extra docs under one source id) that the cap must truncate to
    // 40 while every organic source (25 docs each) passes untouched; the
    // blocklist drops src7 via a broadcast anti-join.
    Q("q102_source_cap", Some("""
      WITH corpus AS (
        SELECT doc_id, source FROM documents
        UNION ALL SELECT doc_id + 60000, 'hotsrc'
        FROM documents WHERE doc_id % 5 = 0),
      allowed AS (SELECT doc_id, source FROM corpus WHERE source <> 'src7')
      SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        FROM allowed) t
      WHERE rk <= 40""")) { (s, dir) =>
      import s.implicits._
      val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("source"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 60000).as("doc_id"), lit("hotsrc").as("source")))
      val blocklist = Seq("src7").toDF("source")
      val cap40 = udaf(new graft.functions.TopKByValue(40))
      corpus.join(broadcast(blocklist), Seq("source"), "left_anti")
        // keep the LOWEST doc_ids: rank value = negated id, key breaks ties
        .groupBy("source")
        .agg(cap40(negate(col("doc_id").cast("double")), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "vk")))
        .select(col("source"), col("vk.key").as("doc_id"),
          (col("pos") + 1).cast("int").as("rk"))
    },

    // ---------------------------------------------------------------- Q95
    // Mixture REBALANCING — the "domain weights" step of data mixing:
    // given target token shares per language (en 40%, others 15%), derive
    // each language's sampling rate from its current token share, capped
    // at 1.0 (upsampling is done by epochs, not by a rate > 1). Emits the
    // observed share, the rate, and the post-sampling token budget —
    // exactly the table a q85-style stratified sampler consumes as its
    // per-stratum thresholds. One hash aggregation; the corpus-wide token
    // denominator is a driver-side sum over the checkpointed ≤|langs|-row
    // aggregate (no window — see [[mixtureRates]]).
    // Parity discipline: the target literals are CAST to DOUBLE on BOTH
    // sides (Spark parses bare 0.4 as DECIMAL and DuckDB's decimal/bigint
    // division yields DOUBLE — mixed types put the two engines one ulp
    // apart at integer floor() boundaries), and the budget floors the
    // 6-dp-ROUNDED rate, never the raw quotient.
    Q("q95_mixture_rebalance", Some(s"""
      WITH ${mixtureRatesSql(Seq("toks", "total"))}
      SELECT lang, toks AS lang_tokens,
        round(toks / total, 6) AS share, rate,
        CAST(floor(toks * rate) AS BIGINT) AS sampled_tokens
      FROM r""")) { (s, dir) =>
      mixtureRates(Tables.t(s, dir, "documents"))
        .selectExpr("lang", "toks AS lang_tokens",
          "round(toks / total, 6) AS share", "rate",
          "CAST(floor(toks * rate) AS BIGINT) AS sampled_tokens")
    },

    // ---------------------------------------------------------------- Q96
    // INCREMENTAL dedup — the production shape: a new DELTA batch (today's
    // crawl) deduped against the existing INDEX, never the index against
    // itself. Delta docs are near-dup variants of index docs (the
    // nearCorpus plants re-keyed +10000); candidates come from joining the
    // DELTA's band table against the INDEX's band table only, then true
    // Jaccard verifies. At 100 TB this is the nightly job: band signatures
    // for the index are precomputed/stored once, the shuffle is
    // |delta| + |index| on bucket keys (with the index side a static
    // bucketed table, only the delta shuffles — BucketingSpec proves the
    // shuffle-free bucketed-join mechanics), and cost scales with the
    // DELTA, not the corpus.
    Q("q96_delta_dedup", Some(s"""
      WITH idx AS (SELECT doc_id, text FROM documents),
      delta AS (SELECT doc_id + 10000 AS doc_id, text || ' xtr tok end' AS text
                FROM documents WHERE doc_id % 10 = 0),
      ib AS (${bandTableSql("SELECT doc_id, text FROM idx")}),
      db AS (${bandTableSql("SELECT doc_id, text FROM delta")}),
      ibc AS (${cappedSql("ib")}),
      dbc AS (${cappedSql("db")}),
      cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS index_id
               FROM dbc d JOIN ibc i
                 ON d.band = i.band AND d.band_key = i.band_key),
      dsh AS (SELECT doc_id, list_distinct($shinglesSql) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM delta) t),
      ish AS (SELECT doc_id, list_distinct($shinglesSql) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM idx) t)
      SELECT delta_id, index_id,
        len(list_intersect(d.sh, i.sh)) /
          (len(d.sh) + len(i.sh) - len(list_intersect(d.sh, i.sh))) AS jaccard
      FROM cand JOIN dsh d ON delta_id = d.doc_id JOIN ish i ON index_id = i.doc_id
      WHERE len(list_intersect(d.sh, i.sh)) /
          (len(d.sh) + len(i.sh) - len(list_intersect(d.sh, i.sh))) >= 0.5""")) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      val idx = docs
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" xtr tok end")).as("text"))
      // each side's buckets capped independently — the index cap is what a
      // precomputed bucketed index table would store; the delta cap is
      // computed on the (small) incoming batch
      val ib = cappedBands(idx).select(col("doc_id").as("index_id"), col("bk64"))
      val db = cappedBands(delta).select(col("doc_id").as("delta_id"),
        col("bk64").as("bk64d"))
      // delta side joins INTO the index's bucket layout: both sides shuffle
      // on the bucket key (at scale the index side is a pre-bucketed table
      // and only the delta moves)
      val cand = db.hint("merge").join(ib, col("bk64d") === col("bk64"))
        .select("delta_id", "index_id").distinct()
      val dsh = delta.selectExpr("doc_id AS d_id", "graft_shingles(text, 3) AS dsh")
      val ish = idx.selectExpr("doc_id AS i_id", "graft_shingles(text, 3) AS ish")
      cand.join(dsh, col("delta_id") === col("d_id"))
        .join(ish, col("index_id") === col("i_id"))
        .withColumn("inter", size(array_intersect(col("dsh"), col("ish"))))
        .withColumn("jaccard",
          col("inter") / (size(col("dsh")) + size(col("ish")) - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("delta_id", "index_id", "jaccard")
    },

    // ---------------------------------------------------------------- Q97
    // Exact SUBSTRING duplication — the suffix-array-style dedup signal
    // ("docs sharing a ≥20-token verbatim run"), computed distributively:
    // two docs share an exact 20-token run iff they share a 20-token
    // shingle, so the join is shingle-equality (bucketed, never
    // all-pairs) and the per-pair count of shared distinct 20-shingles
    // measures the copied span. Planted: +50000 docs embed a verbatim
    // 25-token segment of their source inside fresh context and must
    // surface with 6 shared shingles. At 100 TB the shuffle key is
    // xxhash64 of the shingle (8 bytes instead of a ~120-char string) and
    // shingles whose document frequency exceeds BucketCap are dropped
    // before the self-join — a 20-gram shared by thousands of docs is
    // boilerplate whose k² pair output would swamp the join (the same
    // hot-bucket guard as the LSH queries); natural 20-gram collisions
    // below the cap track true duplication.
    Q("q97_substring_dup", Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000,
          'ctxa ctxb ctxc ' || array_to_string(string_split(text, ' ')[1:25], ' ')
            || ' ctxd ctxe'
        FROM documents WHERE doc_id % 20 = 0 AND len(string_split(text, ' ')) >= 25),
      sh AS (SELECT doc_id, unnest(${shingleSetSql(20)}) AS sh
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus) t),
      capped AS (SELECT doc_id, sh FROM (
          SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh) c
        WHERE df <= $BucketCap)
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        COUNT(*) AS n_shared_20grams
      FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id""")) { (s, dir) =>
      val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.unionByName(
        d.filter(col("doc_id") % 20 === 0 && size(split(col("text"), " ")) >= 25)
          .select((col("doc_id") + 50000).as("doc_id"),
            concat(lit("ctxa ctxb ctxc "),
              array_join(slice(split(col("text"), " "), 1, 25), " "),
              lit(" ctxd ctxe")).as("text")))
      // graft_shingles emits DISTINCT per-doc shingles, so the per-key
      // window count is document frequency; the window shuffles on the
      // same hashed key the join uses → no extra exchange, one reused one
      val sh = corpus
        .selectExpr("doc_id", "explode(graft_shingles(text, 20)) AS sh")
        .select(col("doc_id"), xxhash64(col("sh")).as("sh64"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh64"))))
        .filter(col("df") <= BucketCap)
        .select("doc_id", "sh64")
      val a = sh.select(col("doc_id").as("doc_id1"), col("sh64"))
      val b = sh.select(col("doc_id").as("doc_id2"), col("sh64").as("sh64b"))
      a.hint("merge").join(b,
        col("sh64") === col("sh64b") && col("doc_id1") < col("doc_id2"))
        .groupBy("doc_id1", "doc_id2")
        .agg(count(lit(1)).as("n_shared_20grams"))
    },

    // ---------------------------------------------------------------- Q98
    // Corpus VOCABULARY stats — the token-frequency table a tokenizer
    // build starts from: global top-20 tokens by frequency. Scale shape:
    // one shuffle on token with map-side partial counts, then the global
    // top-k via orderBy+limit — Spark plans TakeOrderedAndProject
    // (per-partition heads, no full sort), the q13 discipline applied to
    // an unbounded vocabulary. Rank is assigned DRIVER-side over the 20
    // fetched rows (Bounded.collect): the previous global row_number
    // window ran on ≤20 rows — harmless — but WindowExec logged its
    // single-partition warning into every bench log (VERDICT r14 #7),
    // and a 20-row rank needs no executor at all.
    Q("q98_vocab_stats", Some("""
      WITH c AS (SELECT token, COUNT(*) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents) t
                 GROUP BY token),
      top AS (SELECT token, freq FROM c ORDER BY freq DESC, token LIMIT 20)
      SELECT token, freq,
        CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS rk
      FROM top""")) { (s, dir) =>
      import s.implicits._
      val top = graft.Bounded.collect(
        Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(20)
          .as[(String, Long)],
        cap = 20, what = "q98 top-20 vocabulary")
      // UTF-8-byte tie-break, not JVM String ordering: Spark's
      // TakeOrderedAndProject and the DuckDB oracle both compare strings
      // by UTF-8 binary (code-point order), while String.compareTo orders
      // UTF-16 code units — supplementary-plane tokens at equal frequency
      // would rank differently (ADVICE r15)
      top.sortBy { case (t, f) => (-f, new Utf8Key(t)) }.zipWithIndex
        .map { case ((t, f), i) => (t, f, i + 1) }.toSeq
        .toDF("token", "freq", "rk")
        .withColumn("rk", col("rk").cast("int"))
    },

    // ---------------------------------------------------------------- Q87
    // Dedup resolution, TRANSITIVE: connected components over the LSH
    // bucket graph by min-label propagation to a fixed point — the full
    // answer to "keep exactly one doc per duplicate CLUSTER", where q83's
    // 1-hop canonical-min splits chains (A~B~C with A,C sharing no bucket
    // resolves to two canonicals there; here to one). Size dispatch on
    // the edge count (see [[labelPropagation]]): an edge list of at most
    // DriverRows (2M) rows is fetched ONCE and finished by union-find on
    // the driver — one capped fetch instead of at least one Spark job
    // (a checkpoint barrier and its driver round trip) per propagation
    // round, and at small inputs those round trips are the cost. A
    // larger list runs the distributed loop: each round is ONE join
    // (edges ⋈ frontier labels on dst) + a groupBy-min — the
    // identical shape at 100 TB — converging in O(log diameter) rounds by
    // pointer halving, with only two scalar aggregates per round on the
    // driver. Both paths give the same min-id labels. The oracle is
    // DuckDB's recursive transitive closure over the same edge set.
    Q("q87_dedup_cc", Some(s"""
      WITH RECURSIVE ${chainReachSql("doc_id")}
      SELECT src AS doc_id, MIN(dst) AS canonical,
             src = MIN(dst) AS kept
      FROM reach GROUP BY src""")) { (s, dir) =>
      connectedComponents(chainCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q103
    // QUALITY-AWARE dedup keep policy: production pipelines keep each
    // duplicate cluster's BEST member, not min(doc_id) — q87's clusters
    // joined with q47's quality score, argmax(quality, tie → min doc_id)
    // per cluster. The planted chain corpus makes the interesting branch
    // fire: B/C copies append distinct junk tokens, which RAISES their
    // TTR and length terms, so most chains keep a non-original member.
    // Shape: a single argmax aggregation — max(struct(quality, -doc_id))
    // per cluster (see [[qualityKeep]]) — no window, no sort, no second
    // pass; tie on quality resolves to min doc_id via the negated id in
    // the struct. ONE shuffle on canonical beyond the CC pass itself.
    Q("q103_quality_keep", Some(s"""
      WITH RECURSIVE ${chainReachSql("doc_id, text")},
      cc AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
      qual AS (SELECT doc_id, $qualityDuckSql AS quality
               FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM docs) t),
      m AS (SELECT cc.doc_id, cc.canonical, qual.quality
            FROM cc JOIN qual ON cc.doc_id = qual.doc_id),
      mx AS (SELECT canonical, MAX(quality) AS max_quality, COUNT(*) AS n_members
             FROM m GROUP BY canonical)
      SELECT m.canonical AS cluster_id, MIN(m.doc_id) AS keep_id,
             mx.max_quality, mx.n_members
      FROM m JOIN mx ON m.canonical = mx.canonical AND m.quality = mx.max_quality
      GROUP BY m.canonical, mx.max_quality, mx.n_members""")) { (s, dir) =>
      qualityKeep(chainCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q104
    // DETERMINISTIC training-order shuffle: global rank by
    // md5(CAST(doc_id AS STRING)) — the reproducible "random" order a
    // training run reads the corpus in. Scale shape (see [[trainingOrder]]):
    // hash-prefix sharding + per-shard window + broadcast shard offsets —
    // one data shuffle, no global sort, no coalesce-to-1, and (unlike a
    // repartitionByRange) no sampled boundaries, so the order is exactly
    // reproducible run-to-run.
    Q("q104_training_order", Some("""
      SELECT doc_id,
        CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          AS BIGINT) AS shuffle_rank
      FROM documents""")) { (s, dir) =>
      trainingOrder(Tables.t(s, dir, "documents").select("doc_id"))
    },

    // --------------------------------------------------------------- Q105
    // DETERMINISTIC train/val/test split: the assignment every training
    // pipeline needs to be reproducible AND stable under corpus growth —
    // adding documents never moves an existing doc between splits
    // (hash-based, not row_number/percent-based, which reshuffle the
    // universe on every insert). Bucket = first hex char of
    // md5(doc_id): 0..b train (12/16), c..e val (3/16), f test (1/16).
    // Scale shape: pure narrow projection over the scan — no shuffle, no
    // window, trivially parallel at any corpus size.
    Q("q105_hash_split", Some("""
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
             ELSE 'test' END AS split
      FROM documents""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("bucket"))
        .withColumn("split",
          when(col("bucket") <= "b", "train")
            .when(col("bucket") <= "e", "val")
            .otherwise("test"))
    },

    // --------------------------------------------------------------- Q107
    // STRATIFIED deterministic sampling report: ~10% per-source sample
    // (first two md5 hex chars < '1a' → 26/256 ≈ 10.16%) with per-stratum
    // achieved rates — the "hold out a fixed slice of every source"
    // operation behind eval-set carving and data ablations, plus the audit
    // that no stratum drifted. Same hash-stability property as q105.
    // Scale shape: one shuffle (groupBy source) over map-side partial
    // counts; the sample membership itself is computed in the scan
    // projection, so the heavy column (text) is never shuffled.
    Q("q107_stratified_sample", Some("""
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM documents GROUP BY source""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("source"),
          (substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
            .cast("long").as("sampled"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("sampled")).as("n_sampled"))
    },

    // --------------------------------------------------------------- Q110
    // Stutter REMOVAL — the cleaning twin of q91's repetition *scoring*:
    // collapse runs of consecutive identical tokens to one occurrence
    // ("the the the" → "the"), the classic crawl/OCR artifact fix, and
    // report how many tokens were dropped. Pure narrow projection (array
    // lambda over the token vector, no shuffle) — a map-only pass at any
    // corpus size, and the emitted clean_text is the exact payload a
    // downstream tokenizer consumes, so the oracle compares it verbatim.
    Q("q110_stutter_removal", Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id,
        array_to_string([ toks[i] for i in range(1, len(toks) + 1)
                          if i = 1 or toks[i] <> toks[i-1] ], ' ') AS clean_text,
        CAST(len(toks) - len([ toks[i] for i in range(1, len(toks) + 1)
                               if i = 1 or toks[i] <> toks[i-1] ]) AS INT)
          AS n_removed
      FROM t""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          """filter(transform(toks, (w, i) -> struct(w AS w, i AS i)),
               s -> s.i = 0 OR s.w != element_at(toks, s.i)) AS kept""",
          "size(toks) AS n_toks")
        .selectExpr("doc_id",
          "array_join(transform(kept, s -> s.w), ' ') AS clean_text",
          "CAST(n_toks - size(kept) AS INT) AS n_removed")
    },

    // --------------------------------------------------------------- Q111
    // Bigram LM quality scoring — the CCNet-style "does this read like
    // language the corpus has seen" filter: score each document by the
    // average add-one-smoothed bigram conditional probability under the
    // corpus's OWN bigram model, P(w2|w1) = (c12+1)/(c1+V). Everything is
    // INTEGER arithmetic — term = ((c12+1)·10⁶) div (c1+V), score =
    // sum(term) div n — so both engines agree bit-for-bit with no log()
    // or float division to diverge by an ulp (a real perplexity is a
    // monotone transform of this per-bigram signal). Docs with <2 tokens
    // have no bigrams and drop, like q42's <3-token docs.
    // Scale shape: the bigram/unigram count tables are vocab-bounded
    // (≪ corpus; Zipf keeps the distinct-bigram set far below the token
    // count), so the model build is two map-side-combining aggregations;
    // scoring is two linear joins of the exploded bigram stream against
    // those tables (AQE broadcasts them when the vocab fits) plus one
    // per-doc aggregation. At open-web scale the exact count tables give
    // way to a count-min sketch — the same generator-vs-scale-path split
    // as q46/q108 — but the exact form IS the oracle anchor.
    Q("q111_bigram_lm_score", Some(bigramLmSql())) { (s, dir) =>
      bigramLmScore(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q112
    // q111's COUNT-MIN-SKETCH scale path, bound-audited — the same
    // anchor-vs-scale-path split as q46→q108 and q86→q88: the exact
    // bigram/unigram count tables are the oracle anchor, the CMS is what
    // a 100 TB corpus actually broadcasts, and this query verifies the
    // substitution's one-sided error contract per bigram occurrence
    // (est ≥ exact, overcount ≤ eps·N), reduced per doc. The oracle
    // emits literal TRUEs for the audit booleans — the q74 within-bound
    // pattern. See [[bigramLmCms]].
    Q("q112_bigram_lm_cms", Some(bigramLmSql("cms12_ok", "cms1_ok"))) { (s, dir) =>
      bigramLmCms(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q113
    // q92's BLOOM-FILTER scale path — the same anchor-vs-scale-path
    // split as q111→q112. q92 broadcasts the distinct eval-shingle set
    // into the exact join; at 100 TB an eval suite's shingle set can
    // outgrow a comfortable broadcast, and the exact join becomes a
    // corpus-sized shuffle. Here a Bloom filter of the eval shingles
    // (~10 bits/key at 1% fp — ~100× smaller than broadcasting the
    // shingle strings themselves) is broadcast as a PRE-FILTER: a corpus
    // shingle reaches the exact join only if the filter might contain
    // its key. Bloom error is one-sided (no false negatives), so the
    // pre-filter can never drop a true hit, and false positives are
    // killed by the exact join behind it. The filter is SIZED FROM THE
    // EVAL-SHINGLE CARDINALITY (one cheap count over the checkpointed
    // eval set), so its fp rate — and hence the candidate reduction —
    // holds at every scale; a fixed-width sketch saturates instead (a
    // fixed-eps CMS variant measured 47× reduction at sf0.1 but only
    // 1.09× at sf2). The oracle is q92's UNFILTERED exact computation,
    // so the driver's hash-equality row IS the no-false-negative audit —
    // stronger than an in-band boolean. DedupSpec pins the
    // pre-filter's candidate reduction through [[decontamReduction]].
    Q("q113_decontaminate_bloom", Some(decontamSql)) { (s, dir) =>
      decontaminateBloom(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q114
    // DSIR-style data selection: score every raw-pool document by how much
    // its hashed-token distribution leans toward a small target corpus
    // (here sources src0/src1 stand in for the curated seed set), the
    // importance-resampling recipe from "Data Selection for Language
    // Models via Importance Resampling" (Xie et al., 2023) — hashed n-gram
    // bucket counts compared between a target and a raw distribution.
    // The published form scores log(p_t(b)/p_r(b)); transcendental logs
    // are NOT bit-reproducible across engines (the q108 libm lesson), so
    // the score is the micro-unit probability difference (the q111
    // idiom): per token, ⌊ct[b]·10⁶/Nt⌋ − ⌊cr[b]·10⁶/Nr⌋ — integer floor
    // division ONLY, identical in both engines, same sign/ordering intent
    // as the log-ratio up to the 1-µunit floor bias. A cross-multiplied
    // ct·Nr − cr·Nt form was rejected: its terms are O(N²/256) and wrap
    // BIGINT silently in Spark (while DuckDB raises) past ~5·10¹⁰ corpus
    // tokens; the micro-unit terms are ≤ 10⁶ each and the arithmetic is
    // exact for any corpus under ~9·10¹² tokens per side (ct·10⁶ < 2⁶³),
    // i.e. the full 100 TB text envelope. `selected` = target-leaning
    // (score > 0). 100 TB posture: the bucket histogram is one map-side
    // partial aggregation collapsing to 256 rows broadcast back, the
    // totals are a 1-row broadcast, and the per-doc sum partial-aggregates
    // on doc_id before its only corpus-sized shuffle — the raw corpus
    // text is scanned twice and never shuffled.
    Q("q114_dsir_select", Some("""
      WITH toks AS (
        SELECT doc_id, source, substr(md5(token), 1, 2) AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
              FROM documents) t),
      hist AS (
        SELECT b,
          CAST(SUM(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          CAST(SUM(CASE WHEN source IN ('src0', 'src1') THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM toks GROUP BY b),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
              FROM hist)
      SELECT t.doc_id,
        CAST(SUM(h.ct * 1000000 // tot.nt - h.cr * 1000000 // tot.nr) AS BIGINT)
          AS score,
        CAST(SUM(h.ct * 1000000 // tot.nt - h.cr * 1000000 // tot.nr) AS BIGINT) > 0
          AS selected
      FROM toks t JOIN hist h USING (b) CROSS JOIN tot
      WHERE t.source NOT IN ('src0', 'src1')
      GROUP BY t.doc_id""")) { (s, dir) =>
      dsirSelect(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q115
    // Cross-document BOILERPLATE scrub audit (the CCNet/RefinedWeb step
    // q110's INTRA-doc stutter removal does not cover): a 5-token shingle
    // that appears in >= 2 distinct documents is corpus boilerplate
    // (headers, footers, license blocks — anything templated); each doc
    // reports its distinct-shingle count, how many of those are
    // boilerplate, and the fraction a scrubber would remove. 100 TB
    // posture: the shingle stream shuffles 8-byte xxhash64 keys (never
    // the 5-token strings — the suite-wide bucket-key convention; the
    // DuckDB oracle joins the raw strings, so the driver's hash-equality
    // row doubles as the collision audit), the doc-frequency table
    // collapses map-side, and the per-doc counts fuse total + boilerplate
    // into ONE aggregation behind a left join the frequent set reaches by
    // broadcast when it is small (AQE decides from its measured size).
    Q("q115_boilerplate_scrub", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, unnest(${shingleSetSql(5)}) AS sh FROM tok),
      freq AS (SELECT sh, COUNT(*) AS docfreq FROM sh GROUP BY sh),
      flagged AS (
        SELECT s.doc_id,
          CASE WHEN f.docfreq >= 2 THEN 1 ELSE 0 END AS is_b
        FROM sh s JOIN freq f USING (sh))
      SELECT doc_id, COUNT(*) AS n_sh,
        CAST(SUM(is_b) AS BIGINT) AS n_boiler,
        CAST(SUM(is_b) AS BIGINT) * 1000000 // COUNT(*) AS boiler_frac_micro
      FROM flagged GROUP BY doc_id""")) { (s, dir) =>
      boilerplateScrub(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q118
    // INTRA-doc repetition audit — the Gopher-family repetition filters
    // (Rae et al. 2021 §A1.1: "repetitious documents are low-quality")
    // q91's length/punct rules and q110's consecutive-stutter removal do
    // not cover: (a) the top-bigram occurrence fraction (a doc dominated
    // by one repeated 2-gram is boilerplate/spam even when no two
    // ADJACENT tokens repeat), and (b) the duplicate-5-gram occurrence
    // fraction (how much of the doc is re-used 5-gram mass). Both
    // adapted from Gopher's character-fraction form to occurrence
    // fractions, in exact integer micro-units (the q111/q114/q115
    // idiom). 100 TB posture: ZERO shuffle — every gram of a doc lives
    // in the doc's own row, so the whole audit is one map-only pass of
    // per-row array expressions (sorted-run fold for the max bigram
    // multiplicity, array_distinct for the duplicate mass); see
    // [[repetitionAudit]]. Embarrassingly parallel at any corpus size,
    // no windows, no corpus-sized driver state.
    Q("q118_repetition_audit", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      eligible AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 5),
      g2 AS (SELECT doc_id,
               unnest([ array_to_string(toks[i:i+1], ' ')
                        for i in range(1, len(toks)) ]) AS g
             FROM eligible),
      c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
      a2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
               CAST(MAX(c) AS BIGINT) AS top2
             FROM c2 GROUP BY doc_id),
      g5 AS (SELECT doc_id,
               unnest([ array_to_string(toks[i:i+4], ' ')
                        for i in range(1, len(toks) - 3) ]) AS g
             FROM eligible),
      c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g),
      a5 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n5,
               CAST(COUNT(*) AS BIGINT) AS d5
             FROM c5 GROUP BY doc_id)
      SELECT a2.doc_id, n2, top2,
        top2 * 1000000 // n2 AS top2_micro,
        n5, (n5 - d5) * 1000000 // n5 AS dup5_micro,
        (top2 * 1000000 // n2 > 180000)
          OR ((n5 - d5) * 1000000 // n5 > 150000) AS rep_flagged
      FROM a2 JOIN a5 ON a2.doc_id = a5.doc_id""")) { (s, dir) =>
      repetitionAudit(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q121
    // Score-DECILE audit — the "what does each score bucket look like"
    // sweep run before picking selection thresholds (q99) or mixture
    // weights (q95): EXACT per-source decile boundaries of a quality
    // score (n_chars here; swap in any per-doc numeric score), then
    // per-(source, decile) population stats. Boundaries come from the
    // zero-shuffle rank-selection kernel ([[StatsQueries
    // .exactGroupPercentiles]] — bucket-count refinement, bit-equal to
    // quantile_cont, no sort and no corpus shuffle); assignment is a
    // MAP-ONLY `filter` HOF against per-source literal boundary arrays
    // (rounded 6 dp on BOTH engines before comparing, so a boundary tie
    // breaks identically); the final aggregate is ≤ sources×10 groups.
    Q("q121_score_deciles", Some("""
      WITH b AS (
        SELECT source,
          [round(quantile_cont(n_chars, 0.1), 6), round(quantile_cont(n_chars, 0.2), 6),
           round(quantile_cont(n_chars, 0.3), 6), round(quantile_cont(n_chars, 0.4), 6),
           round(quantile_cont(n_chars, 0.5), 6), round(quantile_cont(n_chars, 0.6), 6),
           round(quantile_cont(n_chars, 0.7), 6), round(quantile_cont(n_chars, 0.8), 6),
           round(quantile_cont(n_chars, 0.9), 6)] AS bs
        FROM documents GROUP BY source)
      SELECT d.source,
        CAST(len(list_filter(b.bs, x -> d.n_chars > x)) AS INT) AS decile,
        COUNT(*) AS n_docs,
        MIN(d.n_chars) AS min_chars, MAX(d.n_chars) AS max_chars
      FROM documents d JOIN b USING (source)
      GROUP BY d.source, decile""")) { (s, dir) =>
      scoreDecileAudit(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q124
    // Vocabulary COVERAGE curve — the tokenizer-design table: for each
    // candidate vocab size k, the share of all token OCCURRENCES the k
    // most frequent types cover (the number a BPE/vocab-size decision
    // reads off). Exact integer micro-units (covered·10⁶ div total) so
    // both engines agree bit-for-bit. 100 TB shape: ONE shuffle — the
    // map-side-combining (token → count) aggregate (the q98 table); the
    // total is a single-row aggregate over the type counts (type-
    // cardinality-sized, not corpus-sized), the top-k prefix is a
    // bounded TakeOrdered collect (k ≤ 30, the IVF-centroid-collect
    // idiom), and the k-row curve is driver-assembled exactly like the
    // rank tables.
    Q("q124_vocab_coverage", Some("""
      WITH c AS (SELECT token, COUNT(*) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents) t
                 GROUP BY token),
      tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM c),
      rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS r
             FROM c)
      SELECT k AS top_k,
        CAST((SELECT COALESCE(SUM(freq), 0) FROM rk WHERE r <= k) AS BIGINT)
          AS covered_occurrences,
        tot.total AS total_occurrences,
        CAST((SELECT COALESCE(SUM(freq), 0) FROM rk WHERE r <= k) * 1000000
          // tot.total AS BIGINT) AS coverage_micro
      FROM (SELECT unnest([1, 5, 10, 20, 30]) AS k) ks, tot""")) { (s, dir) =>
      vocabCoverage(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q125
    // Dedup cluster-size HISTOGRAM — the observability report a dedup
    // stage ships with its output: how many duplicate clusters exist at
    // each size, and how many documents they absorb (the "dedup will
    // remove X% of the corpus" number comes straight off this table).
    // Composes q87's transitive components with two BOUNDED aggregates:
    // labels → per-cluster size (shuffle on canonical, partial
    // map-side), sizes → histogram (≤ max-cluster-size groups). The
    // oracle is q87's recursive closure ([[chainReachSql]]) and the same
    // two GROUP BYs.
    Q("q125_cluster_size_histogram", Some(s"""
      WITH RECURSIVE ${chainReachSql("doc_id")},
      cc AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
      sz AS (SELECT canonical, COUNT(*) AS cluster_size FROM cc GROUP BY canonical)
      SELECT cluster_size, COUNT(*) AS n_clusters,
             CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
      FROM sz GROUP BY cluster_size""")) { (s, dir) =>
      connectedComponents(chainCorpus(s, dir))
        .groupBy("canonical").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    },

    // --------------------------------------------------------------- Q126
    // Token-window document CHUNKING — the context-window prep step every
    // training pipeline runs before packing: each document becomes
    // overlapping 32-token windows at stride 16 (a 2x expansion bound,
    // independent of document length). Entirely MAP-SIDE: tokenize once,
    // explode the per-doc start sequence, slice — zero exchanges at any
    // corpus size (PlanAuditSpec pins no-Exchange), so the operator scales
    // with scan bandwidth alone. Chunk boundaries are pure integer
    // arithmetic; the oracle spells the identical starts via
    // range(0, n, 16) and the identical clamped slice.
    Q("q126_token_chunks", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
      st AS (SELECT doc_id, toks, len(toks) AS n,
                    unnest(range(0, len(toks), 16)) AS start
             FROM tok)
      SELECT doc_id, CAST(start // 16 AS INT) AS chunk_id,
        CAST(least(start + 32, n) - start AS INT) AS n_tokens,
        array_to_string(list_slice(toks, start + 1, least(start + 32, n)), ' ')
          AS chunk_text
      FROM st""")) { (s, dir) =>
      tokenChunks(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q127
    // TF-IDF top-terms per document — keyword extraction for topic
    // bucketing / rule-based curation. Scoring is EXACT cross-engine
    // without log(): rank by tf*N/df, computed as an IEEE double division
    // of exact integers (correctly rounded identically in both engines),
    // ties broken by token. Plan: per-doc tf in ONE kernel call per row
    // (`graft_token_tf` — a doc's tokens already share a row, so the
    // classic (doc, token) count shuffle never happens), the vocab-sized
    // df aggregate as the only map-side-combined exchange, df broadcast
    // back, and the per-doc top-3 via the bounded TopTermsByScore
    // Aggregator (the q9 posture: ≤k rows per doc per map task, no
    // window sort). No corpus-sized exchange anywhere — see
    // [[tfidfTopTerms]].
    Q("q127_tfidf_terms", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                   FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
          CAST(tf.tf * nd.n_docs AS DOUBLE) / df.df AS score
        FROM tf JOIN df USING (token), nd)
      SELECT doc_id, rk, token, tf, df, score FROM (
        SELECT doc_id, token, tf, df, score,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, token) AS INT) AS rk
        FROM scored) t
      WHERE rk <= 3""")) { (s, dir) =>
      tfidfTopTerms(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q129
    // BM25 ranked retrieval: score every document against a fixed query
    // term set (Okapi BM25, k1=1.2, b=0.75) and return the global top-10.
    // The retrieval op the tf-idf family was missing — q127 ranks terms
    // WITHIN a doc; this ranks DOCS for a query. Shuffle budget: the
    // corpus never exchanges — per-doc tf comes from one graft_token_tf
    // kernel call (map probe per query term), corpus statistics (N,
    // Σdl, per-term df) are ONE 1-row aggregate broadcast back, and the
    // global top-k is TakeOrdered (heap per partition, k rows to the
    // driver), not a sort. At 100 TB: two map-only scans + a k-row
    // result; the query-term set is a literal, so the "dimension" side
    // is constant-size by construction.
    //
    // Cross-engine exactness: the scoring expressions are built ONCE
    // ([[bm25NormSql]]/[[bm25ScoreSql]]) and interpolated into BOTH the
    // Spark plan and the DuckDB oracle, with every operand explicitly
    // CAST to DOUBLE — identical IEEE op sequences are bit-identical in
    // any engine, which is why the rational idf surrogate replaces
    // log((N-df+0.5)/(df+0.5)+1): log is the one op with no cross-
    // library rounding guarantee (the q127 lesson). The surrogate is
    // monotone in the true idf, so BM25's ranking semantics survive.
    Q("q129_bm25_topk", Some(s"""
      WITH tokd AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
          ${Bm25Terms.zipWithIndex.map { case (t, i) =>
            s"CAST(len(list_filter(toks, t -> t = '$t')) AS BIGINT) AS tf$i"
          }.mkString(",\n          ")}
        FROM tokd),
      stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
          ${Bm25Terms.indices.map(i =>
            s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
            .mkString(",\n          ")}
        FROM base),
      normed AS (
        SELECT doc_id, dl, CAST($bm25NHitSql AS INT) AS n_hit,
          $bm25NormSql AS norm,
          ${Bm25Terms.indices.map(i => s"tf$i, df$i").mkString(", ")}, n_docs
        FROM base, stats)
      SELECT doc_id, $bm25ScoreSql AS score, dl, n_hit
      FROM normed ORDER BY score DESC, doc_id LIMIT $Bm25K""")) { (s, dir) =>
      bm25TopK(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q130
    // Cross-source overlap matrix: exact 5-gram-shingle-set Jaccard for
    // every source pair — the corpus-health audit run before mixing
    // sources into a training blend (how much of src_a is already in
    // src_b decides dedup order and mixture weights). EXACT set
    // intersection, not a minhash estimate: the answer is |sources|²
    // numbers, so the honest cost is one vocab-sized exchange. Shingles
    // travel as md5-folded 64-bit keys (`graft_shingles64`, the MinHash
    // family's fold — both engines apply it identically, so counts stay
    // bit-equal): an 8-byte key through the exchange instead of the
    // ~25-byte shingle string.
    //
    // Shuffle budget: (sid, shingle-hash) pairs flow into ONE
    // groupBy(shingle) whose per-shingle source set is a LONG BITMASK
    // aggregated with codegen'd bit_or (sources map to ≤64 bit ids from
    // a bounded sorted dim — no per-key set objects, partials stay 8
    // bytes however many docs share a shingle); a second map-side-
    // combined aggregate collapses the vocab to its DISTINCT
    // CO-OCCURRENCE PATTERNS (mask → count, a handful of rows), which
    // is truncated and expanded into singleton + ordered-pair
    // events at pattern granularity. At 100 TB the one big exchange is
    // the vocabulary — map-side-combined and skew-free (the hot-shingle
    // key carries one 8-byte partial per map task, not a row per doc).
    Q("q130_source_overlap", Some(s"""
      WITH tok AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      sh AS (SELECT DISTINCT source,
               unnest([ ('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT
                        % ${graft.functions.TextHash.MinHashP} for s in
                        ${shingleSetSql(5)} ])::BIGINT AS sh
             FROM tok),
      per AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
      inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2)
      SELECT pa.source AS src_a, pb.source AS src_b,
        pa.n_sh AS n_a, pb.n_sh AS n_b,
        COALESCE(i.n_inter, 0) AS n_inter,
        CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
          (pa.n_sh + pb.n_sh - COALESCE(i.n_inter, 0)) AS jaccard
      FROM per pa JOIN per pb ON pa.source < pb.source
      LEFT JOIN inter i ON pa.source = i.src_a AND pb.source = i.src_b
      ORDER BY src_a, src_b""")) { (s, dir) =>
      sourceOverlap(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q131
    // Cross-source Stupid Backoff scoring (Brants et al. 2007, "Large
    // Language Models in Machine Translation" — the backoff score S
    // designed FOR distributed count-based LMs: no discounting, no
    // normalization, just raw relative frequencies with a fixed 0.4
    // backoff factor, chosen because it needs nothing but count tables a
    // MapReduce/Spark job already produces). Each doc is scored against
    // the counts of every OTHER source (leave-one-source-out): a trigram
    // seen elsewhere scores f(w1w2w3)/f(w1w2); one never seen elsewhere
    // backs off to 0.4·f(w2w3)/f(w2), then to 0.4²·f(w3)/N. That makes
    // this the cross-source surprise audit — which sources the rest of
    // the blend cannot predict — and, unlike self-scoring (where every
    // trigram trivially exists), the backoff path is exercised for real:
    // ~60% of this corpus's distinct trigrams live in exactly one source.
    // Scoring is exact integer micro-units (the q111 idiom — floor
    // division only, no log, no double), so both engines agree bit-for-bit.
    //
    // Shuffle budget: ONE corpus-sized aggregation (the per-(trigram,
    // source) counts); bigram and unigram counts come from rollups of it
    // plus per-doc last-bigram/last-token correction rows (doc-count-
    // sized, the q111 rollup lesson), never a second occurrence-stream
    // shuffle. The backoff term depends only on (trigram, source), so it
    // is precomputed in a flat term table at count-table scale and the
    // occurrence stream pays ONE hash-join probe per trigram plus the
    // doc aggregate. At open-web vocabulary the exact count tables stop
    // fitting and q112's CMS substitution is the scale path; this exact
    // form is its oracle anchor, the q111→q112 split.
    Q("q131_stupid_backoff", Some(stupidBackoffSql())) { (s, dir) =>
      stupidBackoff(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q150
    // q131's COUNT-MIN-SKETCH scale path, bound-audited — the promise at
    // the end of q131's comment block made a registered, oracle-checked
    // query (VERDICT r15 ask #4). Same contract as q111→q112: the exact
    // count tables are the oracle anchor; at open-web vocabulary the six
    // lookups a scoring row performs — (own, total) × (trigram, bigram,
    // unigram) — become probes of six fixed-size broadcast CMS sketches,
    // and this query audits every one of those probes at count-table
    // scale (est ≥ exact, est ≤ exact + 3·eps·N — see [[stupidBackoffCms]]
    // for the slack sizing). Scores are q131's exact integers; the oracle
    // emits literal TRUEs for the audit booleans (the q74/q112
    // within-bound pattern). DEDUP_CANDIDATES records the other half of
    // the scale argument: count-table rows grow with the corpus while the
    // six-pack stays a CONSTANT 4.8 MB (4,800,600 bytes at every measured
    // scale, sf0.1 through sf10), with zero audit violations at every
    // scale.
    Q("q150_stupid_backoff_cms",
      Some(stupidBackoffSql("cms_tri_ok", "cms_big_ok", "cms_uni_ok"))) { (s, dir) =>
      stupidBackoffCms(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q132
    // φ-heavy hitters over the corpus shingle stream via a Misra–Gries
    // summary (Misra & Gries 1982; mergeable-summaries merge, Agarwal et
    // al. PODS 2012) — the DETERMINISTIC counterpart to q112's CMS: a
    // ≤ k−1-counter summary underestimates any count by at most n/k, so
    // with ε = 1/k strictly below φ = 1/16384 every true φ-hitter is
    // GUARANTEED in the candidate set no matter how Spark partitions or
    // merges. Two passes, zero corpus shuffles: pass 1 moves only k-sized
    // summaries (map-side partial MG per partition, one merge); pass 2
    // re-scans the corpus through a broadcast semi-join on the ≤ k−1
    // candidates and exact-counts only them — the output is the EXACT
    // φ-heavy-hitter set (shingle, exact count, integer micro frequency),
    // which is why a DuckDB oracle can check a sketch-built plan
    // bit-for-bit. The q111→q112 split, third way: CMS = tiny state +
    // probabilistic overestimate; MG = k counters + deterministic
    // containment; both anchor to the same exact audit.
    Q("q132_heavy_hitters", Some(s"""
      WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
      sh AS (SELECT unnest($shinglesSql) AS shingle
             FROM tok WHERE len(toks) >= 3),
      n AS (SELECT COUNT(*) AS n_tot FROM sh),
      c AS (SELECT shingle, COUNT(*) AS cnt FROM sh GROUP BY 1)
      SELECT shingle, cnt,
        CAST((cnt * 1000000) // n_tot AS BIGINT) AS freq_micro
      FROM c, n WHERE cnt * 16384 > n_tot""")) { (s, dir) =>
      heavyHitters(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q133
    // Broder CONTAINMENT near-subsumption (Broder 1997, "On the
    // resemblance and containment of documents" — the companion measure
    // to the resemblance/Jaccard the MinHash family estimates):
    // C(A,B) = |A∩B| / |A| flags a document whose shingle set mostly
    // lives inside another even when the size gap crushes Jaccard — the
    // quote/excerpt/template-subsumption case Jaccard-LSH structurally
    // misses (a 50-shingle doc inside a 5000-shingle doc has J ≤ 0.01
    // but C = 1.0). Candidates come from the shared-shingle inverted
    // index with the SAME docfreq cap the LSH family uses ([[BucketCap]]
    // — a shingle in >cap docs is boilerplate, not evidence; both
    // engines apply the cap identically so the capped intersection is a
    // deterministic LOWER bound and the oracle stays bit-exact). Both
    // orientations reported per unordered pair; threshold: the larger
    // containment ≥ 0.8. Integer micro-unit fractions, floor division.
    Q("q133_containment_dedup", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      hs AS (SELECT doc_id,
               [ ('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT % $minhashP
                 for s in ${shingleSetSql(5)} ] AS sh
             FROM tok),
      post AS (SELECT doc_id, len(sh) AS n, unnest(sh)::BIGINT AS h
               FROM hs WHERE len(sh) > 0),
      capped AS (SELECT doc_id, n, h FROM (
                   SELECT doc_id, n, h, COUNT(*) OVER (PARTITION BY h) AS df
                   FROM post)
                 WHERE df <= $BucketCap),
      pairs AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
                  a.n AS na, b.n AS nb, COUNT(*) AS i
                FROM capped a JOIN capped b
                  ON a.h = b.h AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4)
      SELECT doc_id1, doc_id2, CAST(na AS BIGINT) AS n_a,
        CAST(nb AS BIGINT) AS n_b, CAST(i AS BIGINT) AS inter,
        CAST((i * 1000000) // na AS BIGINT) AS cont_a_in_b_micro,
        CAST((i * 1000000) // nb AS BIGINT) AS cont_b_in_a_micro
      FROM pairs WHERE i * 5 >= 4 * LEAST(na, nb)""")) { (s, dir) =>
      containmentDedup(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q134
    // Duplication-hub PageRank: 3 exact power-iteration passes of
    // PageRank (Page et al. 1998) over the UNDIRECTED LSH candidate
    // graph (q42's capped band edges) — the dedup-graph triage view:
    // high-rank docs sit at the center of large/linked duplication
    // families (template hubs worth human review), rank ≈ 0.15 marks
    // isolated docs. Completes the engine's distributed-iteration
    // triptych: CC moves min-labels, k-means moves centroids, PageRank
    // moves rank mass — in all three the BIG table (edges / corpus)
    // stays put and only the per-node state exchanges each round. All
    // arithmetic is integer micro-units with floor division (damping
    // 0.85 = ×850000 div 10⁶), so both engines iterate bit-identically —
    // no convergence-epsilon ambiguity, a FIXED 3 passes, the q120
    // iterated-k-means oracle idiom on a graph.
    Q("q134_dup_pagerank", Some(s"""
      WITH $nearCandSql,
      edges AS (SELECT doc_id1 AS src, doc_id2 AS dst FROM cand
                UNION ALL
                SELECT doc_id2 AS src, doc_id1 AS dst FROM cand),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM corpus),
      it1 AS (SELECT c.doc_id, CAST(150000 + (850000 * COALESCE(s.contrib, 0))
                // 1000000 AS BIGINT) AS pr
              FROM corpus c LEFT JOIN (
                SELECT e.dst AS doc_id, SUM(p.pr // d.deg) AS contrib
                FROM edges e JOIN pr0 p ON p.doc_id = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1) s
              ON s.doc_id = c.doc_id),
      it2 AS (SELECT c.doc_id, CAST(150000 + (850000 * COALESCE(s.contrib, 0))
                // 1000000 AS BIGINT) AS pr
              FROM corpus c LEFT JOIN (
                SELECT e.dst AS doc_id, SUM(p.pr // d.deg) AS contrib
                FROM edges e JOIN it1 p ON p.doc_id = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1) s
              ON s.doc_id = c.doc_id),
      it3 AS (SELECT c.doc_id, CAST(150000 + (850000 * COALESCE(s.contrib, 0))
                // 1000000 AS BIGINT) AS pr
              FROM corpus c LEFT JOIN (
                SELECT e.dst AS doc_id, SUM(p.pr // d.deg) AS contrib
                FROM edges e JOIN it2 p ON p.doc_id = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1) s
              ON s.doc_id = c.doc_id)
      SELECT c.doc_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
        i.pr AS pr_micro
      FROM corpus c LEFT JOIN deg d ON d.src = c.doc_id
      JOIN it3 i ON i.doc_id = c.doc_id""")) { (s, dir) =>
      dupPagerank(nearCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q136
    // Triangle count / local clustering coefficient over the LSH
    // candidate graph — the third dedup-graph analytic after q87's
    // components and q134's PageRank: a doc whose neighbours are ALSO
    // pairwise near-dups (high clustering coefficient) sits inside a
    // dense template clique, while a high-degree low-coefficient doc is
    // a hub stitching unrelated families — exactly the triage split a
    // reviewer wants. Exact enumeration via the ordered wedge join
    // (doc_id1 < doc_id2 throughout, so triangle {x<y<z} is found ONCE
    // as e(x,y)⋈e(y,z) closed by e(x,z)); every join runs at CANDIDATE
    // scale, never corpus scale, and the wedge fan-out is bounded by the
    // BucketCap'd degree (≤ 4 bands × (cap−1)). Coefficient as integer
    // micro-units with floor division: 2T·10⁶ div deg(deg−1).
    Q("q136_dup_triangles", Some(s"""
      WITH $nearCandSql,
      tri AS (SELECT e1.doc_id1 AS a, e1.doc_id2 AS b, e2.doc_id2 AS c
              FROM cand e1 JOIN cand e2 ON e2.doc_id1 = e1.doc_id2
              JOIN cand e3 ON e3.doc_id1 = e1.doc_id1
                          AND e3.doc_id2 = e2.doc_id2),
      tn AS (SELECT node, COUNT(*) AS t FROM (
               SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) u GROUP BY 1),
      deg AS (SELECT node, COUNT(*) AS deg FROM (
                SELECT doc_id1 AS node FROM cand
                UNION ALL SELECT doc_id2 FROM cand) u GROUP BY 1)
      SELECT c.doc_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
        CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_triangles,
        CASE WHEN COALESCE(d.deg, 0) >= 2
             THEN CAST((2 * COALESCE(tn.t, 0) * 1000000)
                       // (d.deg * (d.deg - 1)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS cc_micro
      FROM corpus c LEFT JOIN deg d ON d.node = c.doc_id
      LEFT JOIN tn ON tn.node = c.doc_id""")) { (s, dir) =>
      dupTriangles(nearCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q137
    // BPE-style merge learning (Sennrich et al. 2016's byte-pair-encoding
    // vocabulary induction, run at TOKEN granularity — i.e. Mikolov-style
    // collocation/phrase induction with BPE's iterate-count-merge loop):
    // 3 rounds of count-every-adjacent-pair → pick the most frequent
    // (count DESC, then lexicographic — deterministic) → merge every
    // occurrence corpus-wide into one token. The fourth member of the
    // distributed-iteration family: CC moves labels, k-means moves
    // centroids, PageRank moves rank mass — here the corpus stays put
    // and only the VOCAB-sized pair-count table plus ONE argmax row move
    // per round; the rewrite is a map-only literal string replace.
    // Exactness contract (both engines by construction): pair counting
    // is overlapping adjacent positions (the canonical BPE count); the
    // merge rewrites the DOUBLE-SPACED rendering ('  '-joined tokens, so
    // each token owns a flanking space on each side and matches can
    // never share boundary characters) via plain left-to-right
    // non-overlapping replace(' w1  w2 ' → ' w1_w2 ') — which on that
    // rendering IS canonical greedy left-to-right BPE merge order, and
    // Spark's replace and DuckDB's replace share it exactly. Each
    // replacement shortens the text by exactly 1 char, so the applied
    // count is Σ(len before − len after) — a map-side subtraction, no
    // second match pass.
    Q("q137_bpe_merges", Some(s"""
      WITH d0 AS (SELECT '  ' || replace(text, ' ', '  ') || '  ' AS t
                  FROM documents),
      ${bpePairSql("d0", "p1")},
      ${bpeBestSql("p1", "b1")},
      ${bpeMergeSql("d0", "b1", "d1")},
      ${bpePairSql("d1", "p2")},
      ${bpeBestSql("p2", "b2")},
      ${bpeMergeSql("d1", "b2", "d2")},
      ${bpePairSql("d2", "p3")},
      ${bpeBestSql("p3", "b3")},
      ${bpeMergeSql("d2", "b3", "d3")}
      SELECT CAST(1 AS INT) AS merge_rank, b1.w1, b1.w2,
        CAST(b1.c AS BIGINT) AS pair_count,
        (SELECT CAST(SUM(delta) AS BIGINT) FROM d1) AS n_applied FROM b1
      UNION ALL SELECT CAST(2 AS INT), b2.w1, b2.w2, CAST(b2.c AS BIGINT),
        (SELECT CAST(SUM(delta) AS BIGINT) FROM d2) FROM b2
      UNION ALL SELECT CAST(3 AS INT), b3.w1, b3.w2, CAST(b3.c AS BIGINT),
        (SELECT CAST(SUM(delta) AS BIGINT) FROM d3) FROM b3""")) { (s, dir) =>
      bpeMerges(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q138
    // Paragraph-level (chunk-hash) dedup audit — CCNet's dedup
    // granularity: documents rarely repeat verbatim end-to-end at web
    // scale, but PARAGRAPHS do (boilerplate, quotes, syndication), so
    // production pipelines hash fixed chunks and measure per-document
    // duplicated-chunk mass before deciding whether to drop docs or
    // scrub spans. Chunks here are the q126 kernel run non-overlapping
    // (window = stride = 32 tokens); the audit buckets every document by
    // its duplicated-chunk fraction (11 buckets: floor(10·dup/chunks),
    // so all-dup docs land in bucket 10). Shuffle budget at 100 TB: one
    // map-side-combined exchange for the chunk-hash frequency table, the
    // chunk→freq join co-partitioned on the same hash key (the first
    // aggregate's exchange is REUSED on the probe side — both sides hash
    // by h), a map-side-combined doc rollup, and an 11-row final
    // aggregate. No window, no corpus sort. The corpus is q40's
    // planted-exact-dup fixture, so the dup mass is non-vacuous at every
    // scale (VERDICT r13's q115 lesson: never ship an audit knob
    // measured only against an empty set).
    Q("q138_chunk_dedup", Some(s"""
      WITH corpus AS ($dupCorpusSql),
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      st AS (SELECT doc_id, toks, len(toks) AS n,
                    unnest(range(0, len(toks), 32)) AS start
             FROM tok),
      ch AS (SELECT doc_id,
               md5(array_to_string(
                 list_slice(toks, start + 1, least(start + 32, n)), ' ')) AS h
             FROM st),
      fr AS (SELECT h, COUNT(*) AS freq FROM ch GROUP BY h),
      pd AS (SELECT ch.doc_id, COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN fr.freq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup
             FROM ch JOIN fr USING (h) GROUP BY ch.doc_id)
      SELECT CAST((n_dup * 10) // n_chunks AS INT) AS dup_decile,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chunks) AS BIGINT) AS sum_chunks,
        CAST(SUM(n_dup) AS BIGINT) AS sum_dup_chunks
      FROM pd GROUP BY 1""")) { (s, dir) =>
      chunkDedupAudit(dupCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q139
    // MinHash calibration audit: how well does the 16-lane signature
    // estimate TRUE shingle Jaccard on the candidate pairs it generates?
    // The per-sketch-family accuracy contract the q74/q88 sketches
    // already carry, applied to the LSH family after the r14
    // single-hash + linear-permutation swap: for every q42 candidate
    // pair, the estimator is matches/16 and the truth is |∩|/|∪| of the
    // exact 3-token shingle sets; pairs group by matching-lane count
    // (17 rows out) with exact-integer error bounds — within = 20·|m·u −
    // 16·i| ≤ 112·u, i.e. |m/16 − i/u| ≤ 0.35 cross-multiplied so no
    // engine ever divides. Shuffle budget: the candidate generator is
    // q42's (capped, hashed band keys); signatures and shingle sets ride
    // ONE per-doc projection (one kernel scan, no sig⋈shingle join), the
    // two pair-side joins run at candidate scale, and the final exchange
    // is 17 rows. At 100 TB this is the cheap periodic health check that
    // tells you when boilerplate drift has degraded banding recall.
    Q("q139_minhash_calibration", Some(s"""
      WITH $nearCandSql,
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      shg AS (SELECT doc_id, $shinglesSql AS sh FROM tok),
      hsh AS (SELECT doc_id, sh, $hashListSql AS hs FROM shg),
      feat AS (SELECT doc_id, list_distinct(sh) AS shd, $sigSql AS sig
               FROM hsh),
      pp AS (SELECT doc_id1, doc_id2,
               CAST(list_sum([ CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END
                               for i in range(1, 17) ]) AS BIGINT) AS m,
               CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) AS inter_n,
               CAST(len(x.shd) + len(y.shd)
                    - len(list_intersect(x.shd, y.shd)) AS BIGINT) AS union_n
             FROM cand JOIN feat x ON doc_id1 = x.doc_id
                       JOIN feat y ON doc_id2 = y.doc_id)
      SELECT CAST(m AS INT) AS sig_matches, COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN 20 * abs(m * union_n - 16 * inter_n)
                        <= 112 * union_n THEN 1 ELSE 0 END) AS BIGINT)
          AS n_within,
        CAST(MIN((inter_n * 1000000) // union_n) AS BIGINT)
          AS min_exact_micro,
        CAST(MAX((inter_n * 1000000) // union_n) AS BIGINT)
          AS max_exact_micro,
        CAST(SUM((inter_n * 1000000) // union_n) // COUNT(*) AS BIGINT)
          AS mean_exact_micro
      FROM pp GROUP BY m""")) { (s, dir) =>
      minhashCalibration(nearCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q141
    // BPE encode: APPLY the q137-learned merge table and report the
    // per-source compression it buys — the second half of the tokenizer
    // story (q137 learns the vocabulary, this measures what shipping it
    // saves per corpus slice, the number that decides whether a bigger
    // merge table is worth the inference-time cost). Same loop shape as
    // q137 — per round one vocab-sized pair-count exchange + a 1-row
    // argmax + a map-only literal replace; source and the pre-encode
    // token count just ride the rewrite columns — then ONE ≤|sources|
    // aggregate. The corpus never shuffles. Compression is exact integer
    // micro-units on the summed token counts ((Σafter·10⁶) div Σbefore
    // — Long math holds to ~9·10¹² tokens ≈ 40 TB of text per source;
    // past that the sums would route through DECIMAL like the money
    // aggregates).
    Q("q141_bpe_encode", Some(s"""
      WITH d0 AS (SELECT source,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
                    '  ' || replace(text, ' ', '  ') || '  ' AS t
                  FROM documents),
      ${bpePairSql("d0", "p1")},
      ${bpeBestSql("p1", "b1")},
      ${bpeEncodeStepSql("d0", "b1", "e1")},
      ${bpePairSql("e1", "p2")},
      ${bpeBestSql("p2", "b2")},
      ${bpeEncodeStepSql("e1", "b2", "e2")},
      ${bpePairSql("e2", "p3")},
      ${bpeBestSql("p3", "b3")},
      ${bpeEncodeStepSql("e2", "b3", "e3")},
      fin AS (SELECT source, n_before,
                CAST(len(list_filter(string_split(t, '  '), x -> x <> ''))
                  AS BIGINT) AS n_after
              FROM e3)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_before) AS BIGINT) AS tokens_before,
        CAST(SUM(n_after) AS BIGINT) AS tokens_after,
        CAST((SUM(n_after) * 1000000) // SUM(n_before) AS BIGINT)
          AS compression_micro
      FROM fin GROUP BY source""")) { (s, dir) =>
      bpeEncode(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q142
    // Chunk scrub — the TRANSFORM the q138 audit gates: remove every
    // corpus-duplicated 32-token chunk except its first occurrence
    // (lowest (doc_id, chunk_id)), rebuild each document from its kept
    // chunks, and report the per-doc removal mass. This is paragraph-
    // level dedup as RefinedWeb/CCNet actually apply it — docs shrink
    // instead of dying, and a FULLY-duplicated doc (every chunk kept
    // elsewhere) drops out entirely, which IS its exact-dedup. Keeper
    // selection is a single argmin aggregate on the chunk hash (key =
    // doc_id·2³² + chunk_id, a plain LONG min); the join-back touches
    // only the freq ≥ 2 keeper table — broadcast at any measured scale,
    // q113-Bloom-split beyond it — so unique-chunk text never rides an
    // `h` exchange (see the chunkScrub scaladoc, VERDICT r18 ask #1);
    // the rebuild sorts only WITHIN a doc (array_sort of a
    // per-doc-bounded list — no corpus sort, no window). Corpus is
    // q40's planted-exact-dup fixture so the scrub mass is non-vacuous
    // at every scale.
    Q("q142_chunk_scrub", Some(s"""
      WITH corpus AS ($dupCorpusSql),
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      st AS (SELECT doc_id, toks, len(toks) AS n,
                    unnest(range(0, len(toks), 32)) AS start
             FROM tok),
      ch AS (SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_id,
               CAST(least(start + 32, n) - start AS BIGINT) AS n_tokens,
               array_to_string(
                 list_slice(toks, start + 1, least(start + 32, n)), ' ')
                 AS chunk_text
             FROM st),
      keep AS (SELECT md5(chunk_text) AS h,
                 MIN(doc_id * 4294967296 + chunk_id) AS keeper
               FROM ch GROUP BY md5(chunk_text)),
      fl AS (SELECT ch.doc_id, ch.chunk_id, ch.n_tokens, ch.chunk_text,
               CASE WHEN ch.doc_id * 4294967296 + ch.chunk_id = keep.keeper
                    THEN 1 ELSE 0 END AS kept
             FROM ch JOIN keep ON md5(ch.chunk_text) = keep.h)
      SELECT doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(kept) AS BIGINT) AS n_kept,
        CAST(SUM(n_tokens) AS BIGINT) AS tok_before,
        CAST(SUM(n_tokens * kept) AS BIGINT) AS tok_after,
        string_agg(CASE WHEN kept = 1 THEN chunk_text END,
                   ' ' ORDER BY chunk_id) AS scrubbed_text
      FROM fl GROUP BY doc_id""")) { (s, dir) =>
      chunkScrub(dupCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q143
    // Language-consistency audit (code-switching / mixed-language
    // detection): run the q48 stopword language-ID on every
    // non-overlapping 32-token chunk and measure how often a document's
    // chunks agree with its whole-document prediction — the per-doc
    // signal multilingual pipelines use to route mixed documents to
    // splitting instead of a single-language bucket. Both engines build
    // the scores and the argmax from ONE shared stopword table
    // ([[langStops]]) with q48's round-at-6dp idiom, so the comparison
    // stays bit-exact. The corpus is [[mixedCorpus]] — documents plus
    // planted cross-language concatenations — because on the fixture
    // alone every chunk votes its document's language and the audit
    // would measure a vacuous all-1.0 (the q115-fraction lesson: an
    // audit knob is only shipped against data that exercises it).
    // Plan: map-only scoring (doc-level pred rides the row through the
    // chunk explode; no join, no window beyond the fixture derivation)
    // plus one doc-group aggregate. Agreement is exact integer
    // micro-units; the `mixed` flag is the cross-multiplied
    // consistency < 0.8 bound.
    Q("q143_lang_consistency", Some(s"""
      WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                 FROM ($mixedCorpusSql) mc),
      dsc AS (SELECT doc_id, lang, toks,
                ${langScoresSql("toks")} FROM t),
      dp AS (SELECT doc_id, lang, toks, $langPredSql AS doc_pred FROM dsc),
      ck AS (SELECT doc_id, lang, doc_pred,
               list_slice(toks, start + 1, least(start + 32, len(toks)))
                 AS ctoks
             FROM (SELECT doc_id, lang, doc_pred, toks,
                     unnest(range(0, len(toks), 32)) AS start FROM dp) u),
      csc AS (SELECT doc_id, lang, doc_pred,
                ${langScoresSql("ctoks")} FROM ck),
      cp AS (SELECT doc_id, lang, doc_pred, $langPredSql AS chunk_pred
             FROM csc)
      SELECT doc_id, lang, doc_pred, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN chunk_pred = doc_pred THEN 1 ELSE 0 END)
          AS BIGINT) AS n_agree,
        CAST((SUM(CASE WHEN chunk_pred = doc_pred THEN 1 ELSE 0 END)
              * 1000000) // COUNT(*) AS BIGINT) AS consistency_micro,
        CAST(CASE WHEN 10 * SUM(CASE WHEN chunk_pred = doc_pred
                                     THEN 1 ELSE 0 END) < 8 * COUNT(*)
                  THEN 1 ELSE 0 END AS INT) AS mixed
      FROM cp GROUP BY doc_id, lang, doc_pred""")) { (s, dir) =>
      langConsistency(mixedCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q144
    // Training-shard preparation FUNNEL — the capstone composition: the
    // end-to-end pipeline a data team actually runs before cutting a
    // training shard, as ONE query emitting the per-stage survivor
    // funnel (docs + tokens after each stage): s0 raw corpus → s1 exact
    // dedup (md5 keep-min) → s2 near-dup resolution (LSH CC + quality
    // argmax, the q103 policy) → s3 decontamination (drop any doc
    // sharing a 5-shingle with the eval set — eval members drop by
    // self-overlap) → s4 Gopher quality rules (q91's keep). The corpus
    // is [[funnelCorpusSql]]: documents plus all four plant families
    // (exact dups, near-dups, leaked eval copies, repetitive spam) so
    // EVERY stage removes real mass at every scale. Shuffle budget =
    // the sum of its stages' budgets, nothing extra: each stage's
    // survivor set is truncated (constant-depth lineage, the CC
    // lesson), membership flows by doc_id semi-joins, eval shingles
    // broadcast, and the funnel itself is five count/sum aggregates
    // unioned driver-side.
    Q("q144_training_funnel", Some(s"""
      WITH RECURSIVE s0 AS (SELECT doc_id, text FROM ($funnelCorpusSql) fc),
      k1 AS (SELECT MIN(doc_id) AS doc_id FROM s0 GROUP BY md5(text)),
      s1 AS (SELECT s0.doc_id, s0.text FROM s0 JOIN k1 USING (doc_id)),
      ${reachSql("SELECT doc_id, text FROM s1", "s1", "")},
      cc AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
      qual AS (SELECT doc_id, $qualityDuckSql AS quality
               FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                     FROM s1) t),
      m AS (SELECT cc.doc_id, cc.canonical, qual.quality
            FROM cc JOIN qual ON cc.doc_id = qual.doc_id),
      mx AS (SELECT canonical, MAX(quality) AS max_quality FROM m
             GROUP BY canonical),
      k2 AS (SELECT MIN(m.doc_id) AS doc_id FROM m
             JOIN mx ON m.canonical = mx.canonical
                    AND m.quality = mx.max_quality
             GROUP BY m.canonical),
      s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN k2 USING (doc_id)),
      ev AS (SELECT DISTINCT unnest(${shingleSetSql(5)}) AS sh
             FROM (SELECT string_split(text, ' ') AS toks FROM documents
                   WHERE doc_id % 50 = 0) e),
      hit AS (SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(${shingleSetSql(5)}) AS sh
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM s2) u) sh2
              JOIN ev USING (sh)),
      s3 AS (SELECT s2.doc_id, s2.text FROM s2
             WHERE s2.doc_id NOT IN (SELECT doc_id FROM hit)),
      r4 AS (SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(
                 [ string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                   for i in range(1, len(string_split(text, ' '))) ])) AS d2
             FROM s3),
      s4 AS (SELECT doc_id, text FROM (
               SELECT doc_id, text, n_tok,
                 round(1.0 - d2 / (n_tok - 1), 6) AS dup2,
                 round((length(text) - (n_tok - 1)) / n_tok, 6) AS mwl
               FROM r4) q
             WHERE dup2 <= 0.3 AND mwl BETWEEN 2.0 AND 12.0 AND n_tok >= 10)
      SELECT stage, n_docs, n_tokens FROM (
        SELECT 's0_corpus' AS stage, COUNT(*) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM s0
        UNION ALL SELECT 's1_exact', COUNT(*),
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM s1
        UNION ALL SELECT 's2_neardup', COUNT(*),
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM s2
        UNION ALL SELECT 's3_decontam', COUNT(*),
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM s3
        UNION ALL SELECT 's4_quality', COUNT(*),
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM s4) f""")) {
      (s, dir) => trainingFunnel(s, dir)
    },

    // --------------------------------------------------------------- Q145
    // Quality-threshold sweep — the operating curve behind q94's fixed
    // quantile cut: for each candidate threshold, how many docs/tokens
    // per source survive a `quality >= t` filter? This is the dial a
    // data team actually turns (choose the cut, read off the token
    // budget), in the operating-curve family of q124's vocab-coverage
    // and q121's deciles. ONE corpus scan: the q47 score per doc, a
    // 5-literal threshold explode (inline array — rows grow 5×
    // pre-aggregation but partial aggregation collapses them map-side),
    // one |sources|×5 exchange. Token shares in exact integer
    // micro-units; the rounded-at-6dp score compares to exact decimal
    // literals identically in both engines (the q91 idiom). The five
    // thresholds sit ON the fixture's measured score distribution
    // (p10≈0.673, p90≈0.765) so the curve is strictly decreasing —
    // an operating curve whose points all land at 0% or 100% would be
    // the q115-vacuous-knob mistake.
    Q("q145_quality_sweep", Some(s"""
      WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks
                 FROM documents),
      sc AS (SELECT doc_id, source, len(toks) AS n_tok,
               $qualityDuckSql AS quality FROM t),
      tot AS (SELECT source, COUNT(*) AS src_docs,
                CAST(SUM(n_tok) AS BIGINT) AS src_tokens
              FROM sc GROUP BY source),
      sw AS (SELECT source, thr_micro, quality, n_tok FROM sc,
               (SELECT unnest([650000, 690000, 710000, 730000, 760000])
                  AS thr_micro) th)
      SELECT sw.source, CAST(sw.thr_micro AS BIGINT) AS thr_micro,
        CAST(SUM(CASE WHEN quality * 1000000 >= thr_micro
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN quality * 1000000 >= thr_micro
                      THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
        CAST((SUM(CASE WHEN quality * 1000000 >= thr_micro
                       THEN n_tok ELSE 0 END) * 1000000)
             // MAX(tot.src_tokens) AS BIGINT) AS tok_share_micro
      FROM sw JOIN tot ON sw.source = tot.source
      GROUP BY sw.source, sw.thr_micro""")) { (s, dir) =>
      qualitySweep(Tables.t(s, dir, "documents"))
    },

    // --------------------------------------------------------------- Q146
    // Decontamination n-gram sensitivity sweep: q92's eval-overlap check
    // re-run at shingle sizes 5 / 8 / 13 (the public pipelines' span:
    // GPT-3 used 13-gram removal, Gopher-family audits 8, q92's
    // production cut is 5) — the curve that tells you how much training
    // mass each definition of "contaminated" costs. Per n: ONE corpus
    // shingle explode, the (tiny) eval shingle set broadcast, flagged
    // docs counted with their token mass. The corpus is q92's planted
    // leaked-copy fixture so every n has true positives; flagged counts
    // shrink monotonically with n (a 13-gram match implies an 8-gram
    // match implies a 5-gram match on the same span).
    Q("q146_decontam_sweep", Some(s"""
      WITH corpus AS (
        $leakCorpusSql),
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      ${Seq(5, 8, 13).map { n => s"""
      sh$n AS (SELECT doc_id, unnest(${shingleSetSql(n)}) AS sh FROM tok),
      ev$n AS (SELECT DISTINCT sh FROM sh$n WHERE doc_id % 50 = 0),
      hit$n AS (SELECT DISTINCT s.doc_id FROM sh$n s JOIN ev$n USING (sh)
                WHERE s.doc_id % 50 <> 0),
      f$n AS (SELECT CAST($n AS INT) AS ngram_n,
                COUNT(*) AS n_flagged,
                CAST(SUM(len(string_split(c.text, ' '))) AS BIGINT)
                  AS tok_flagged
              FROM hit$n h JOIN corpus c ON h.doc_id = c.doc_id)"""
        }.mkString(",")}
      SELECT * FROM f5 UNION ALL SELECT * FROM f8
      UNION ALL SELECT * FROM f13""")) { (s, dir) =>
      decontamSweep(s, dir)
    },

    // --------------------------------------------------------------- Q147
    // Near-dup threshold sweep: the q42 pipeline's OPERATING CURVE —
    // candidate pairs are generated ONCE (capped LSH buckets), true
    // Jaccard verified once, and the pair/doc counts read off at cuts
    // 0.5 / 0.7 / 0.9 in the same aggregate (integer cross-multiplied:
    // 10·i ≥ t·u). Choosing the dedup threshold trades recall against
    // false merges; this is the one-scan audit that prices each choice.
    Q("q147_neardup_threshold_sweep", Some(s"""
      WITH $nearCandSql,
      tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      shs AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM tok),
      pp AS (SELECT doc_id1, doc_id2,
               CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS i,
               CAST(len(x.sh) + len(y.sh)
                    - len(list_intersect(x.sh, y.sh)) AS BIGINT) AS u
             FROM cand JOIN shs x ON doc_id1 = x.doc_id
                       JOIN shs y ON doc_id2 = y.doc_id),
      th AS (SELECT unnest([5, 7, 9]) AS t10)
      SELECT CAST(t10 * 100000 AS BIGINT) AS thr_micro,
        CAST(SUM(CASE WHEN 10 * i >= t10 * u THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pairs,
        CAST(COUNT(DISTINCT CASE WHEN 10 * i >= t10 * u THEN doc_id2 END)
          AS BIGINT) AS n_dup_docs
      FROM pp, th GROUP BY t10""")) { (s, dir) =>
      neardupThresholdSweep(nearCorpus(s, dir))
    },

    // --------------------------------------------------------------- Q149
    // Shard manifest — the release datasheet: assign every document to
    // one of 16 content-addressed shards (first md5 nibble of the doc
    // id, the q105 split hash so train/val/test and shard assignment
    // share one addressing scheme) and emit per-shard docs, tokens,
    // bytes, source breadth, and an exact micro-unit doc share — the
    // table a data release ships next to its shards, and the balance
    // audit that catches a skewed shard before a trainer's data loader
    // does. ONE scan + a 16-group aggregate; the 1-row total broadcasts
    // back for the share division.
    Q("q149_shard_manifest", Some("""
      WITH d AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   len(string_split(text, ' ')) AS n_tok,
                   length(text) AS n_bytes, source
                 FROM documents),
      tot AS (SELECT COUNT(*) AS n FROM d)
      SELECT shard, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        CAST((COUNT(*) * 1000000) // MAX(tot.n) AS BIGINT) AS share_micro
      FROM d, tot GROUP BY shard""")) { (s, dir) =>
      shardManifest(Tables.t(s, dir, "documents"))
    }
  )

  /** One oracle-side BPE pair count: overlapping adjacent pairs of the
    * double-space tokenization of `d`.t. */
  private def bpePairSql(d: String, p: String): String = s"""
      $p AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c FROM (
        SELECT unnest([ struct_pack(w1 := tk[i], w2 := tk[i + 1])
                        for i in range(1, len(tk)) ]) AS b
        FROM (SELECT list_filter(string_split(t, '  '), x -> x <> '') AS tk
              FROM $d) q
        WHERE len(tk) >= 2) u GROUP BY 1, 2)"""

  /** One oracle-side BPE argmax: most frequent pair, lexicographic
    * tie-break. */
  private def bpeBestSql(p: String, b: String): String = s"""
      $b AS (SELECT w1, w2, c FROM $p ORDER BY c DESC, w1, w2 LIMIT 1)"""

  /** One oracle-side BPE merge rewrite + per-doc applied-count delta. */
  private def bpeMergeSql(d: String, b: String, out: String): String = s"""
      $out AS (SELECT
        replace(t, ' ' || w1 || '  ' || w2 || ' ',
                   ' ' || w1 || '_' || w2 || ' ') AS t,
        length(t) - length(replace(t, ' ' || w1 || '  ' || w2 || ' ',
                                      ' ' || w1 || '_' || w2 || ' ')) AS delta
        FROM $d, $b)"""

  /** q141's oracle-side merge step: [[bpeMergeSql]] minus the delta,
    * carrying the encode outputs (source, n_before) through the rewrite. */
  private def bpeEncodeStepSql(d: String, b: String, out: String): String = s"""
      $out AS (SELECT source, n_before,
        replace(t, ' ' || w1 || '  ' || w2 || ' ',
                   ' ' || w1 || '_' || w2 || ' ') AS t
        FROM $d, $b)"""

  /** q130 kernel — see the Q entry for the shuffle-budget argument. The
    * per-shingle source set is a BIT MASK (sources map to ≤64 bit ids
    * from a bounded sorted dim), so the corpus-sized aggregate is a
    * codegen'd `bit_or` over longs — no per-key set objects — and the
    * second aggregate collapses to the DISTINCT CO-OCCURRENCE PATTERNS
    * (mask → shingle count), map-side-combined to a handful of rows.
    * Singles and ordered pairs then expand from each mask's bit list at
    * pattern granularity, weighted by its count. The Jaccard is one
    * IEEE division of exact integers (bit-identical in any engine; no
    * rounding needed — the q127 idiom). */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val srcs = graft.Bounded.collect(
      docs.select("source").distinct().orderBy("source"),
      cap = 64, what = "q130 source dim (bitmask width)")
      .map(_.getString(0)) // bounded dim — the decile-table idiom
    require(srcs.length <= 64,
      s"source bitmask holds <=64 sources, got ${srcs.length}")
    val sidExpr = srcs.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
      when(col("source") === s, lit(i)).otherwise(acc) }
    def nameOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      srcs.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (s, i)) => when(c === i, lit(s)).otherwise(acc) }
    // ≤ distinct co-occurrence patterns; 2 consumers
    val masks = Lineage.truncate(docs
      .select(sidExpr.as("sid"),
        explode(expr("graft_shingles64(text, 5)")).as("sh"))
      .groupBy("sh")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), sid))").as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
      .withColumn("bits", expr(
        s"filter(sequence(0, ${srcs.length - 1}), s -> (shiftright(mask, s) & 1) = 1)")))
    val ev = masks
      .selectExpr("""explode(concat(
          transform(bits, x -> struct(x AS a, CAST(-1 AS INT) AS b)),
          flatten(transform(bits, (x, i) ->
            transform(slice(bits, i + 2, size(bits)), y -> struct(x AS a, y AS b))))
        )) AS e""", "cnt")
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(sum(col("cnt")).as("n"))
    val per = ev.filter(col("b") === -1)
      .select(nameOf(col("a")).as("source"), col("n").as("n_sh"))
    val inter = ev.filter(col("b") =!= -1)
      .select(nameOf(col("a")).as("ia"), nameOf(col("b")).as("ib"),
        col("n").as("n_inter"))
    per.as("pa").join(per.as("pb"), col("pa.source") < col("pb.source"))
      .select(col("pa.source").as("src_a"), col("pb.source").as("src_b"),
        col("pa.n_sh").as("n_a"), col("pb.n_sh").as("n_b"))
      .join(inter, col("src_a") === col("ia") && col("src_b") === col("ib"),
        "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .selectExpr("src_a", "src_b", "n_a", "n_b", "n_inter",
        "CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard")
  }

  /** q131 kernel — leave-one-source-out Stupid Backoff (see the Q entry
    * for the method citation and shuffle-budget argument).
    *
    * Count-table derivation (the q111 rollup lesson — ONE corpus-sized
    * aggregation, everything lower-order derived from it):
    *  - per-(trigram, source) counts `tcs` are the only aggregation of
    *    the occurrence stream;
    *  - bigram counts = Σ_w3 tcs (bigrams at positions 0..L−3) PLUS each
    *    doc's LAST bigram (position L−2; the only bigram of an L=2 doc) —
    *    a doc-count-sized map-only correction stream, no second explode;
    *  - unigram counts = Σ_b2 bigram counts (tokens at positions 0..L−2)
    *    PLUS each doc's LAST token (the only token of an L=1 doc).
    * Both identities are exact (pinned in TextPipelineSpec against a
    * direct recount), so the oracle's direct per-order GROUP BYs see the
    * same tables.
    *
    * The five lookups a scoring row needs — c123, c12, c23, c2, c3, each
    * as (total, own-source) — resolve entirely at count-table scale: the
    * backoff term depends only on (trigram, source), so a flat TERM
    * TABLE keyed by the tcs keys precomputes (term, level) once per
    * distinct (trigram, source) and the corpus-sized occurrence stream
    * pays one hash-join probe per occurrence. The term table is
    * checkpointed so AQE decides that join from its EXACT size (the q111
    * lesson inverted: never force-broadcast a vocabulary-sized side — at
    * sf5 a forced broadcast OOM'd the 8 GB driver). While the trigram
    * vocab fits the threshold the corpus streams through a broadcast
    * probe (plan-pinned at fixture scale); past it AQE degrades to a
    * hash-partitioned join on the trigram key — the transition point
    * where q112's CMS substitution becomes the scale path for
    * count-based LMs. Inner joins are safe: every trigram's context
    * bigram/unigrams occur at least once in any source holding the
    * trigram, and each backoff guard implies its denominator is positive
    * (a trigram seen outside the source puts its (w1,w2) bigram outside
    * the source too).
    */
  /** q131/q150 shared pieces: the trigram occurrence stream, the three
    * checkpointed per-source count tables, and the ENRICHED term-table
    * input — one row per distinct (trigram, source) carrying every raw
    * own/total count the scoring needs plus the leave-one-out differences.
    * q131 projects (term, lvl) from it; q150 additionally probes the CMS
    * six-pack on the same rows (count-table scale, never per occurrence).
    */
  private case class SbParts(tg: DataFrame, tcs: DataFrame,
      bcs: DataFrame, ucs: DataFrame, enriched: DataFrame)

  /** The exact (term, lvl) projection both q131 and q150 score with. */
  private val sbTermExprs = Seq(
    """CASE WHEN c123x > 0 THEN (c123x * 1000000L) div c12x
      |     WHEN c23x > 0 THEN (c23x * 400000L) div c2x
      |     WHEN c3x > 0 THEN (c3x * 160000L) div nx
      |     ELSE 0L END AS term""".stripMargin,
    """CASE WHEN c123x > 0 THEN 3 WHEN c23x > 0 THEN 2
      |     WHEN c3x > 0 THEN 1 ELSE 0 END AS lvl""".stripMargin)

  /** The shared probe join + per-doc aggregation (see the shuffle_hash
    * rationale in [[sbParts]]' term-table comment): extras are q150's
    * audit-boolean reductions, empty for q131.
    */
  private def sbScore(tg: DataFrame, term: DataFrame,
      extras: Seq[Column] = Nil): DataFrame =
    tg.join(term.hint("shuffle_hash"), Seq("w1", "w2", "w3", "source"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        (Seq(expr("sum(term) div count(1)").as("sb_score_micro"),
          sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri_hit"),
          sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_big_hit"),
          sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni_hit"),
          sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_oov")) ++
          extras): _*)

  private def sbParts(docs: DataFrame): SbParts = {
    val toks = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t"))
    val tg = toks.filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("source"),
        col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
    // the ONLY corpus-sized aggregation; read 4× below (bigram rollup +
    // enriched-table build), hence checkpointed
    val tcs = Lineage.truncate(tg.groupBy("w1", "w2", "w3", "source")
      .agg(count(lit(1)).as("c")))
    val lastBg = toks.filter(size(col("t")) >= 2)
      .select(expr("t[size(t) - 2]").as("b1"), expr("t[size(t) - 1]").as("b2"),
        col("source"), lit(1L).as("c"))
    val bcs = Lineage.truncate(tcs
      .select(col("w1").as("b1"), col("w2").as("b2"), col("source"), col("c"))
      .union(lastBg)
      .groupBy("b1", "b2", "source").agg(sum(col("c")).as("c")))
    val lastTok = toks
      .select(expr("t[size(t) - 1]").as("u"), col("source"), lit(1L).as("c"))
    val ucs = Lineage.truncate(bcs.select(col("b1").as("u"), col("source"), col("c"))
      .union(lastTok)
      .groupBy("u", "source").agg(sum(col("c")).as("c")))
    // both bounded (≤ |sources| rows / 1 row) and both LAZY (round 20):
    // they aggregate the already-checkpointed ucs, so leaving them in the
    // enriched plan costs two tiny parallel aggregates inside the one AQE
    // query, where the old eager localCheckpoints paid two serial
    // driver-job round-trips per query build (~0.2-0.4 s of pure job
    // overhead at bench scale, nothing at 100 TB either way)
    val ns = ucs.groupBy("source").agg(sum(col("c")).as("n_src"))
    val nTot = ns.agg(sum(col("n_src")).as("n_tot"))
    // TERM TABLE: the backoff score depends only on (trigram, source),
    // and every scored occurrence's (trigram, source) pair is a tcs key
    // (the occurrence itself was counted there) — so term and level are
    // computed ONCE per distinct (trigram, source) here, at count-table
    // scale, instead of once per corpus occurrence (the r14 first cut
    // carried per-source MAPS to the occurrence stream and paid 5 linear
    // map probes per occurrence — 24.7 s at sf5). Totals attach as
    // WINDOW sums over the per-source tables — one exchange each, where
    // a groupBy-rollup-plus-join-back pays the rollup exchange AND a
    // re-shuffle of the big side — and each bigram/unigram enrichment
    // arrives (own, tot) merged in a single join. The unigram table is
    // vocabulary-sized (not vocab×source beyond a small factor), so AQE
    // broadcasts it and both unigram joins stay map-side. Inner joins
    // are safe: a source that has the trigram has its context
    // bigrams/unigrams too.
    val bcs2 = bcs.withColumn("cb_tot",
      sum(col("c")).over(Window.partitionBy(col("b1"), col("b2"))))
    // LAZY (round 21, extending the round-20 single-consumer rule): both
    // unigram enrichment joins broadcast this table, but the two broadcast
    // exchanges are canonically identical and AQE reuses the first build
    // (ReusedExchange in plans/r21/q131_stupid_backoff_after.txt), so the
    // window effectively has ONE consumer and the eager checkpoint only
    // added a vocab-table serialize+reload plus a driver-job round-trip.
    // A/B sf1 (AB_q131_r21_sf1_lazy vs _ucs2lazy): q131 4.94→4.24 s,
    // q150 6.02→5.41 s.
    val ucs2 = ucs.withColumn("cu_tot",
      sum(col("c")).over(Window.partitionBy(col("u"))))
    // shuffle_hash on the final probe join, not sort-merge: the probe side
    // is the CORPUS occurrence stream — sort-merge sorts all of it by four
    // string columns (A/B at sf5: 24.0 s vs 3.5 s for the same join),
    // while the hash build is the vocab-scale term table whose
    // per-partition slice is bounded by vocab/shuffle-partitions. Same
    // rationale on the two bigram enrichment joins above (build = the
    // smaller bcs2 side). When the vocab outgrows per-partition memory,
    // the exact form has already handed off to the CMS path — which is no
    // longer only a comment: q150 IS that substitution, audited.
    val enriched = tcs
      .withColumn("c123_tot", sum(col("c"))
        .over(Window.partitionBy(col("w1"), col("w2"), col("w3"))))
      .join(bcs2.select(col("b1").as("w1"), col("b2").as("w2"),
        col("source"), col("c").as("c12_own"), col("cb_tot").as("c12_tot"))
        .hint("shuffle_hash"),
        Seq("w1", "w2", "source"))
      .join(bcs2.select(col("b1").as("w2"), col("b2").as("w3"),
        col("source"), col("c").as("c23_own"), col("cb_tot").as("c23_tot"))
        .hint("shuffle_hash"),
        Seq("w2", "w3", "source"))
      .join(ucs2.select(col("u").as("w2"), col("source"),
        col("c").as("c2_own"), col("cu_tot").as("c2_tot")),
        Seq("w2", "source"))
      .join(ucs2.select(col("u").as("w3"), col("source"),
        col("c").as("c3_own"), col("cu_tot").as("c3_tot")),
        Seq("w3", "source"))
      .join(ns, Seq("source"))
      .crossJoin(nTot)
      .selectExpr("w1", "w2", "w3", "source",
        "c AS c123_own", "c123_tot",
        "c12_own", "c12_tot", "c23_own", "c23_tot",
        "c2_own", "c2_tot", "c3_own", "c3_tot",
        "c123_tot - c AS c123x",
        "c12_tot - c12_own AS c12x",
        "c23_tot - c23_own AS c23x",
        "c2_tot - c2_own AS c2x",
        "c3_tot - c3_own AS c3x",
        "n_tot - n_src AS nx")
    SbParts(tg, tcs, bcs, ucs, enriched)
  }

  def stupidBackoff(docs: DataFrame): DataFrame = {
    val p = sbParts(docs)
    // the term table is consumed exactly ONCE (the sbScore probe join), so
    // it stays LAZY (round 20): the join is hinted shuffle_hash regardless
    // of size estimates, AQE still sees the term side's exact bytes at the
    // shuffle boundary (and may legitimately downgrade to broadcast from
    // MEASURED size, never from an estimate), and dropping the eager
    // localCheckpoint removes a full serialize+reload of the vocabulary-
    // sized table plus one driver-job round-trip.
    val term = p.enriched
      .selectExpr(Seq("w1", "w2", "w3", "source") ++ sbTermExprs: _*)
    sbScore(p.tg, term)
  }

  /** The q150 sketch six-pack: (own, total) CMS per n-gram order, built in
    * ONE aggregation pass over the union of the three checkpointed count
    * tables. Keys are space-joined tokens (tokens are whitespace-split, so
    * " " can never occur inside one — keys are collision-free by
    * construction); the own-sketch key appends the source. CMS counters
    * are linear, so weighted adds over the count tables reproduce the
    * occurrence streams' counters exactly (the q112 argument): for the
    * total sketches, Σ_src add(key, c(key,src)) == add(key, c_tot(key)).
    */
  private def sbSketches(p: SbParts, eps: Double, confidence: Double,
      seed: Int): (DataFrame, Array[CountMinSketch]) = {
    val spark = p.tcs.sparkSession
    import spark.implicits._
    def tagged(df: DataFrame, tag: Int, keyCols: Seq[String]): DataFrame =
      df.select(lit(tag).as("tag"),
        concat_ws(" ", keyCols.map(col): _*).as("key"),
        concat_ws(" ", (keyCols :+ "source").map(col): _*).as("key_src"),
        col("c").cast("long").as("c"))
    val unioned = tagged(p.tcs, 0, Seq("w1", "w2", "w3"))
      .unionByName(tagged(p.bcs, 1, Seq("b1", "b2")))
      .unionByName(tagged(p.ucs, 2, Seq("u")))
    // COALESCE the agg input (round 20, guide §2.3 — shuffle fewer bytes):
    // the flat typed aggregate serializes one ~4.8 MB six-sketch buffer
    // PER INPUT PARTITION to the single merge task, and the three
    // checkpointed count tables union to 3×|shuffle.partitions| partitions
    // (~460 MB of java-serialized buffers at 32 shuffle partitions, for
    // ~25 MB of count-table rows). Inserts are cheap hash updates, so a
    // quarter of the cores keeps the insert pass parallel while the merge
    // moves 12× fewer buffer bytes; defaultParallelism scales the knob
    // with the cluster. coalesce is narrow (no shuffle), and CMS counters
    // are linear with a commutative merge (the bigramLmCms linearity
    // argument), so the merged sketches are bit-identical under any
    // partitioning — the q150/q112 oracles re-verify the audit booleans
    // either way.
    val mergeParts = math.max(1, spark.sparkContext.defaultParallelism / 4)
    val bytes = graft.Bounded.one(
      unioned.coalesce(mergeParts).as[(Int, String, String, Long)]
        .select(new CmsPairsAgg(3, eps, confidence, seed).toColumn),
      "q150 merged CMS six-pack")
    val in = new java.io.ByteArrayInputStream(bytes)
    (unioned, Array.fill(6)(CountMinSketch.readFrom(in)))
  }

  /** q150 kernel — q131's exact leave-one-source-out Stupid Backoff PLUS
    * the count-min-sketch audit that licenses the open-web substitution
    * (the same anchor-vs-scale-path contract as q111→q112). At open-web
    * vocabulary the exact (trigram, source) count tables stop fitting any
    * join strategy comfortably; the scale path replaces each of the six
    * count lookups a scoring row performs — (own, total) × (trigram,
    * bigram, unigram) — with a probe of a fixed-size CMS (megabytes at ANY
    * corpus size, broadcast once per executor and probed inside
    * WholeStageCodegen through [[graft.plans.CmsProbe]]). This query
    * verifies that substitution's error contract on every lookup the
    * scoring actually performs: probes run at COUNT-TABLE scale on the
    * enriched term rows (never per corpus occurrence — the q112
    * distinct-key lesson), checking est ≥ exact and
    * est ≤ exact + 3·eps·N per sketch (N = that sketch's own totalCount).
    * The 3× slack is the audited-bool_and analogue of q112's 2×: each
    * counter's expected overcount is ≤ eps·N/2, so by Markov one row
    * exceeds 3·eps·N with probability ≤ 1/6 and the depth-10 minimum with
    * ≤ 6⁻¹⁰ ≈ 1.7e-8 — far under one expected flip across the ~10⁷ probes
    * a large-scale corpus audit runs, where q112's 2× doubling (4⁻¹⁰ ≈
    * 1e-6) is sized for its ~10⁶. The leave-one-out corollary is stated,
    * not separately audited: c_x = tot − own, and with est_tot ∈
    * [tot, tot+s], est_own ∈ [own, own+s], the substituted difference sits
    * within ±s of exact. Scores stay the exact integers (the oracle emits
    * literal TRUEs for the audit booleans — the q74/q112 within-bound
    * pattern).
    */
  def stupidBackoffCms(docs: DataFrame, eps: Double = 2e-4,
      confidence: Double = 0.999, seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    val p = sbParts(docs)
    val (_, sk) = sbSketches(p, eps, confidence, seed)
    val slack = sk.map(s => math.ceil(3 * eps * s.totalCount()).toLong)
    // ONE TorrentBroadcast per sketch, shared by every probe that reads it
    // (round 20; supersedes the r16 shared-literal form): a literal sketch
    // rides the task binary and is re-deserialized by EVERY task — the
    // six-pack measured as a 12.4 MiB task-binary broadcast per probe
    // stage — while a Broadcast handle ships each sketch once per executor
    // (zero-copy in local mode) and the task binary stays kilobytes. See
    // [[graft.plans.CmsProbe]]. LIFETIME (ADVICE r20): these broadcasts
    // are deliberately NOT destroy()ed here — the returned DataFrame has
    // not executed yet at build time and may run multiple actions, so the
    // only safe reclaim point is when the plan itself becomes unreachable;
    // that is exactly ContextCleaner's job (driver GC → destroy), and the
    // bench session pins spark.cleaner.periodicGC.interval=2min plus a
    // System.gc() per sample so repeated builds drain instead of pooling.
    val skBc = sk.map(spark.sparkContext.broadcast(_))
    def probe(i: Int, key: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CmsProbe(skBc(i),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(key)))
    val triKey = concat_ws(" ", col("w1"), col("w2"), col("w3"))
    val b12Key = concat_ws(" ", col("w1"), col("w2"))
    val b23Key = concat_ws(" ", col("w2"), col("w3"))
    def own(key: Column) = concat_ws(" ", key, col("source"))
    // sketch index: 2·tag (total) / 2·tag+1 (own) — see CmsPairsAgg. Each
    // of the 10 estimates a row needs is PROJECTED once, then the bound
    // booleans compare by attribute reference — inlining the probe into
    // `est >= c && est <= c + s` would evaluate every sketch probe twice
    // (interpreted-HOF-style duplication, the q78 lesson).
    val probes: Seq[(String, Int, Column, String)] = Seq(
      ("e123t", 0, triKey, "c123_tot"), ("e123o", 1, own(triKey), "c123_own"),
      ("e12t", 2, b12Key, "c12_tot"), ("e12o", 3, own(b12Key), "c12_own"),
      ("e23t", 2, b23Key, "c23_tot"), ("e23o", 3, own(b23Key), "c23_own"),
      ("e2t", 4, col("w2"), "c2_tot"), ("e2o", 5, own(col("w2")), "c2_own"),
      ("e3t", 4, col("w3"), "c3_tot"), ("e3o", 5, own(col("w3")), "c3_own"))
    val estimated = probes.foldLeft(p.enriched) {
      case (df, (name, i, key, _)) => df.withColumn(name, probe(i, key))
    }
    def ok(names: Seq[String]): Column = probes
      .filter { case (n, _, _, _) => names.contains(n) }
      .map { case (n, i, _, exact) =>
        col(n) >= col(exact) && col(n) <= col(exact) + lit(slack(i)) }
      .reduce(_ && _)
    // LAZY like q131's term table (round 20, same argument): one consumer,
    // hinted join, AQE sizing from measured shuffle bytes — the eager
    // checkpoint only added a serialize+reload of the audited table.
    val audited = estimated
      .withColumn("tri_ok", ok(Seq("e123t", "e123o")))
      .withColumn("big_ok", ok(Seq("e12t", "e12o", "e23t", "e23o")))
      .withColumn("uni_ok", ok(Seq("e2t", "e2o", "e3t", "e3o")))
      .selectExpr(Seq("w1", "w2", "w3", "source") ++ sbTermExprs ++
        Seq("tri_ok", "big_ok", "uni_ok"): _*)
    sbScore(p.tg, audited, Seq(
      expr("bool_and(tri_ok)").as("cms_tri_ok"),
      expr("bool_and(big_ok)").as("cms_big_ok"),
      expr("bool_and(uni_ok)").as("cms_uni_ok")))
  }

  /** q150's scale evidence, pinned by TextPipelineSpec: (count-table rows
    * the exact form must keep joinable, serialized six-pack bytes —
    * CONSTANT by construction, the whole point — and audit violations,
    * which must be 0 at every scale for the substitution contract to hold).
    */
  private[graft] def sbCmsReduction(docs: DataFrame, eps: Double = 2e-4,
      confidence: Double = 0.999, seed: Int = 42): (Long, Long, Long) = {
    val spark = docs.sparkSession
    val p = sbParts(docs)
    val (unioned, sk) = sbSketches(p, eps, confidence, seed)
    val slack = sk.map(s => math.ceil(3 * eps * s.totalCount()).toLong)
    val skBc = sk.map(spark.sparkContext.broadcast(_)) // one broadcast per sketch (q150 idiom)
    val est = (i: Int, key: Column) =>
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CmsProbe(skBc(i),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(key)))
    val violations = unioned
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("tag"), col("key"))))
      .withColumn("eo", when(col("tag") === 0, est(1, col("key_src")))
        .when(col("tag") === 1, est(3, col("key_src")))
        .otherwise(est(5, col("key_src"))))
      .withColumn("et", when(col("tag") === 0, est(0, col("key")))
        .when(col("tag") === 1, est(2, col("key")))
        .otherwise(est(4, col("key"))))
      .withColumn("so", when(col("tag") === 0, slack(1))
        .when(col("tag") === 1, slack(3)).otherwise(slack(5)))
      .withColumn("st", when(col("tag") === 0, slack(0))
        .when(col("tag") === 1, slack(2)).otherwise(slack(4)))
      .filter(col("eo") < col("c") || col("eo") > col("c") + col("so") ||
        col("et") < col("tot") || col("et") > col("tot") + col("st"))
      .count()
    (unioned.count(), sk.map(sketchBytes(_).length.toLong).sum, violations)
  }

  /** `pairs` pairs of count-min sketches built in ONE aggregation pass —
    * q112's pair (bigram, w1) and q150's three (trigram, bigram, unigram;
    * total and own key each). Input rows are (tag < pairs, key0, key1,
    * count): sketch 2·tag gets key0, 2·tag+1 key1, both weighted by the
    * row's count. Spark's own `count_min_sketch` aggregate can't weight
    * rows and `df.stat` runs one driver job per sketch, which is why
    * this exists. The result is the sketches' serialized bytes in index
    * order.
    */
  private class CmsPairsAgg(pairs: Int, eps: Double, confidence: Double, seed: Int)
      extends Aggregator[(Int, String, String, Long), Array[CountMinSketch], Array[Byte]] {
    def zero: Array[CountMinSketch] =
      Array.fill(2 * pairs)(CountMinSketch.create(eps, confidence, seed))
    def reduce(b: Array[CountMinSketch],
        r: (Int, String, String, Long)): Array[CountMinSketch] = {
      b(2 * r._1).addString(r._2, r._4)
      b(2 * r._1 + 1).addString(r._3, r._4)
      b
    }
    def merge(a: Array[CountMinSketch],
        b: Array[CountMinSketch]): Array[CountMinSketch] = {
      a.indices.foreach(i => a(i).mergeInPlace(b(i)))
      a
    }
    def finish(b: Array[CountMinSketch]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.foreach(_.writeTo(bos))
      bos.toByteArray
    }
    def bufferEncoder: Encoder[Array[CountMinSketch]] =
      Encoders.javaSerialization[Array[CountMinSketch]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** q132 kernel — two-pass exact φ-heavy hitters (see the Q entry).
    *
    * Pass 1 is ONE aggregation with no grouping key: Spark runs the
    * [[graft.functions.MisraGries]] insert per partition (map-side, no
    * exchange of the shingle stream) and merges the ≤ k−1-counter
    * summaries — the only data that moves is k-sized, at any corpus
    * size. Pass 2 broadcast-joins the candidate set (bounded by k, so
    * broadcast-safe at 100 TB by construction, unlike a data-dependent
    * force-broadcast) back onto a fresh corpus scan and exact-counts the
    * survivors; the groupBy exchange carries at most k−1 distinct keys.
    * n comes from the summary itself — every row passed through insert
    * exactly once, so `summary.n` IS the exact stream length and lands
    * in the plan as a literal. ε = 1/k = 1/65536 < φ = 1/16384 is the
    * textbook ε < φ sizing; the candidate set may contain non-hitters
    * (the audit filters them) but can never miss a hitter, which is the
    * property SketchSpec pins across adversarial partitionings.
    */
  def heavyHitters(docs: DataFrame, phiInv: Long = 16384L,
      k: Int = 65536): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"""
          .stripMargin)).as("shingle"))
    val summary = graft.Bounded.one(
      sh.as[String].select(new MgAgg(k).toColumn), "q132 merged MG summary")
    val cand = summary.counts.keysIterator.toSeq.toDF("shingle")
    sh.join(broadcast(cand), "shingle")
      .groupBy("shingle").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(phiInv) > lit(summary.n))
      .select(col("shingle"), col("cnt"),
        expr(s"(cnt * 1000000L) div ${summary.n}").as("freq_micro"))
  }

  /** q133 kernel — see the Q entry for the measure. Plan shape: the
    * per-doc TRUE set size `n` is computed map-side (size of the folded
    * distinct-shingle array, BEFORE the docfreq cap — the containment
    * denominator must be the real set) and RIDES the posting rows as an
    * 8-byte column, so no corpus-sized sizes join ever happens. One
    * exchange on the shingle hash serves both the docfreq window and the
    * pair self-join (merge hint → ReusedExchange, the q42 idiom); the
    * pair aggregate keys on (doc_id1, doc_id2, n_a, n_b) — n_a/n_b are
    * functionally dependent on the ids, so the extra keys change nothing
    * but spare the join-back. Two exchanges total at any corpus size,
    * both over capped posting/pair streams.
    */
  def containmentDedup(docs: DataFrame, cap: Int = BucketCap): DataFrame = {
    val post = docs
      .selectExpr("doc_id", "graft_shingles64(text, 5) AS sh")
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("h"))
    val capped = post
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= cap)
      .select("doc_id", "n", "h")
    val a = capped.select(col("doc_id").as("doc_id1"), col("n").as("n_a"),
      col("h"))
    val b = capped.select(col("doc_id").as("doc_id2"), col("n").as("n_b"),
      col("h").as("hb"))
    a.hint("merge").join(b,
        col("h") === col("hb") && col("doc_id1") < col("doc_id2"))
      .groupBy("doc_id1", "doc_id2", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 5 >= least(col("n_a"), col("n_b")) * 4)
      .select(col("doc_id1"), col("doc_id2"), col("n_a"), col("n_b"),
        col("inter"),
        expr("(inter * 1000000L) div n_a").as("cont_a_in_b_micro"),
        expr("(inter * 1000000L) div n_b").as("cont_b_in_a_micro"))
  }

  /** q134 kernel — 3 exact PageRank passes over the undirected LSH
    * candidate graph (see the Q entry). The scale shape mirrors the CC
    * kernel: the symmetric edge table builds ONCE (checkpointed — at
    * production scale it would be a bucketed table on src) and each
    * round exchanges only NODE-sized state: the rank table joins the
    * edges, contributions partial-aggregate on dst (map-side combine
    * collapses edge-count rows to node-count before the exchange), and
    * the new rank table checkpoints to keep the iteration's lineage a
    * constant-depth tree (the labelPropagation lesson — an uncheckpointed
    * loop's plan grows geometrically). Isolated docs never enter the
    * contribution join and keep the 0.15 damping base.
    */
  def dupPagerank(corpus: DataFrame, iters: Int = 3): DataFrame = {
    val cand = candidatePairs(corpus)
    pagerank(corpus.select(col("doc_id")), cand, iters)
  }

  /** The iteration core of [[dupPagerank]], public so DedupSpec can pin
    * the exact micro-unit arithmetic on a hand-computed graph: `pairs`
    * is an undirected edge list (doc_id1, doc_id2), `nodes` one doc_id
    * per vertex.
    */
  def pagerank(nodes: DataFrame, pairs: DataFrame, iters: Int): DataFrame = {
    val edges = Lineage.truncate(pairs
      .select(col("doc_id1").as("src"), col("doc_id2").as("dst"))
      .union(pairs.select(col("doc_id2").as("src"), col("doc_id1").as("dst"))))
    val deg = Lineage.truncate(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    // node table with static degree, built once — every round's output
    // is (doc_id, deg, pr) so the loop body never re-touches the corpus
    val base = Lineage.truncate(nodes
      .join(deg, col("doc_id") === col("src"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg")))
    var pr = base.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.filter(col("deg") > 0)
          .select(col("doc_id").as("u"), expr("pr div deg").as("contrib")),
          col("src") === col("u"))
        .groupBy("dst").agg(sum(col("contrib")).as("s"))
      pr = Lineage.truncate(base
        .join(contrib, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), col("deg"),
          expr("150000L + (850000L * coalesce(s, 0L)) div 1000000L").as("pr")))
    }
    pr.select(col("doc_id"), col("deg"), col("pr").as("pr_micro"))
  }

  /** q136 kernel — exact triangle enumeration + local clustering
    * coefficient over the LSH candidate graph (see the Q entry). The
    * ordered edge list (doc_id1 < doc_id2) is built ONCE and
    * checkpointed; the wedge join e(x,y)⋈e(y,z) shuffles on the shared
    * middle node and the closing join on the (x,z) pair — both at
    * candidate scale with BucketCap-bounded fan-out. Per-node triangle
    * counts come from unpivoting each triangle's three corners (map-side
    * combine collapses to node count before the exchange); degree from
    * the symmetric edge list. The corpus-sized tail is two left joins of
    * node-sized tables back onto the doc spine.
    */
  def dupTriangles(corpus: DataFrame): DataFrame =
    triangleStats(corpus.select(col("doc_id")), candidatePairs(corpus))

  /** The enumeration core of [[dupTriangles]], public so DedupSpec can
    * pin the exact counts/coefficients on a hand-computed graph: `pairs`
    * is an ordered edge list (doc_id1 < doc_id2, distinct), `nodes` one
    * doc_id per vertex.
    */
  def triangleStats(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val cand = Lineage.truncate(pairs)
    val deg = cand.select(col("doc_id1").as("node"))
      .union(cand.select(col("doc_id2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val e2 = cand.select(col("doc_id1").as("b2"), col("doc_id2").as("c2"))
    val e3 = cand.select(col("doc_id1").as("a3"), col("doc_id2").as("c3"))
    val tri = cand
      .join(e2, col("doc_id2") === col("b2"))
      .join(e3, col("doc_id1") === col("a3") && col("c2") === col("c3"))
      .select(col("doc_id1").as("ta"), col("doc_id2").as("tb"),
        col("c2").as("tc"))
    val tn = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    nodes
      .join(deg, col("doc_id") === deg("node"), "left").drop(deg("node"))
      .join(tn, col("doc_id") === tn("node"), "left").drop(tn("node"))
      .selectExpr("doc_id",
        "CAST(coalesce(deg, 0L) AS BIGINT) AS deg",
        "CAST(coalesce(t, 0L) AS BIGINT) AS n_triangles",
        """CASE WHEN coalesce(deg, 0L) >= 2
          |     THEN CAST((2 * coalesce(t, 0L) * 1000000L)
          |               div (deg * (deg - 1)) AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END AS cc_micro""".stripMargin)
  }

  /** q137 kernel — 3 rounds of distributed BPE-style merge learning
    * ([[bpeLearn]]), reported per round.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeLearn(docs, Nil, nMerges, "q137")._2
      .toDF("merge_rank", "w1", "w2", "pair_count", "n_applied")
  }

  /** The merge-learning loop q137 and q141 share (see the q137 Q entry
    * for the double-space rendering contract): `docs`' `text` renders
    * into `t`, and the `carry` columns ride every rewrite unchanged.
    * Per round: ONE vocab-exchanged pair-count aggregate over the
    * exploded adjacent pairs (partial map-side combine), a TakeOrdered-1
    * argmax to the driver (count DESC, w1, w2), then a map-only literal
    * `replace` rewrite whose per-doc length delta IS the applied count
    * (each replacement shortens the text by exactly 1). The rewritten
    * corpus is truncated each round so the next round's count, the
    * delta aggregate, and the next rewrite share one materialization and
    * the loop's lineage stays constant-depth (the pagerank lesson). Only
    * the pair-count table and one argmax row ever move; the corpus itself
    * is never shuffled. Returns the rewritten corpus (`carry` plus `t`)
    * and (merge_rank, w1, w2, pair_count, n_applied) per round.
    */
  private def bpeLearn(docs: DataFrame, carry: Seq[Column], nMerges: Int,
      label: String): (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    var cur = Lineage.truncate(docs
      .select(carry :+ concat(lit("  "),
        expr("replace(text, ' ', '  ')"), lit("  ")).as("t"): _*))
    val kept = cur.columns.filter(_ != "t").map(col).toSeq
    val rounds = for (rank <- 1 to nMerges) yield {
      val best = cur
        .select(expr("filter(split(t, '  '), x -> x != '')").as("tk"))
        .filter(expr("size(tk) >= 2"))
        .select(explode(expr(
          """transform(sequence(0, size(tk) - 2),
            |  j -> struct(tk[j] AS w1, tk[j + 1] AS w2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(1)
      val bestRow = graft.Bounded.one(best, s"$label merge-round $rank argmax")
      val (w1, w2, c) = (bestRow.getString(0), bestRow.getString(1), bestRow.getLong(2))
      val pat = lit(s" $w1  $w2 ")
      val rep = lit(s" ${w1}_$w2 ")
      // the applied-count rides the checkpoint job as an observed metric
      // (round 20 — the CC loop's CollectMetrics idiom): the old separate
      // sum(delta) aggregate was one extra driver job per merge round over
      // rows the checkpoint had just materialized anyway
      val obs = Observation(s"${label}_merge_$rank")
      val next = Lineage.truncate(cur
        .select(kept :+ col("t").as("t0"): _*)
        .select(kept ++ Seq(call_function("replace", col("t0"), pat, rep).as("t"),
          (length(col("t0"))
            - length(call_function("replace", col("t0"), pat, rep)))
            .cast("long").as("delta")): _*)
        .observe(obs, sum(col("delta")).as("applied")))
      val applied = observedLong(obs.get, "applied", s"$label merge-round $rank")
      cur = next.drop("delta")
      (rank, w1, w2, c, applied)
    }
    (cur, rounds)
  }

  /** Long metric `name` of an observation on a loop round's truncation
    * job. A null is the sum over an empty round, so 0; an absent or
    * non-Long metric throws, naming the metric and the round — read as 0
    * it would end a loop as if it had converged, or report a round that
    * applied nothing, and return plausible wrong rows.
    */
  private[graft] def observedLong(metrics: Map[String, Any], name: String,
      round: String): Long = metrics.get(name) match {
    case Some(l: java.lang.Long) => l.longValue
    case Some(null) => 0L
    case m => throw new IllegalStateException(
      s"$round: observed metric $name missing or mistyped: $m")
  }

  /** Flat (no-group) MG aggregation: buffer and output are the summary
    * itself; the driver reads candidates + exact n off the merged result.
    */
  private class MgAgg(k: Int)
      extends Aggregator[String, MisraGries.Summary, MisraGries.Summary] {
    def zero: MisraGries.Summary = MisraGries.empty
    def reduce(b: MisraGries.Summary, s: String): MisraGries.Summary =
      MisraGries.insert(b, s, k)
    def merge(a: MisraGries.Summary, b: MisraGries.Summary): MisraGries.Summary =
      MisraGries.merge(a, b, k)
    def finish(b: MisraGries.Summary): MisraGries.Summary = b
    def bufferEncoder: Encoder[MisraGries.Summary] =
      Encoders.javaSerialization[MisraGries.Summary]
    def outputEncoder: Encoder[MisraGries.Summary] =
      Encoders.javaSerialization[MisraGries.Summary]
  }

  /** q129 query-term set — literal by design: a retrieval query is
    * user-supplied, not corpus-derived, so the broadcast side is
    * constant-size at any corpus scale. */
  private[graft] def Bm25Terms: Seq[String] =
    Seq("spark", "join", "window", "table", "fast")
  private[graft] def Bm25K: Int = 10

  /** BM25 length norm k1·(1−b+b·dl/avgdl) with avgdl expanded to
    * Σdl/N — every operand CAST to DOUBLE so both engines run the same
    * IEEE op sequence (decimal literals would type as DECIMAL in both
    * Spark and DuckDB with engine-specific promotion rules). */
  private def bm25NormSql: String =
    "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * " +
      "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))"

  /** Per-term BM25 contributions summed left-associatively — the rational
    * idf surrogate (N−df+0.5)/(df+0.5) times tf·(k1+1)/(tf+norm). */
  private def bm25ScoreSql: String =
    Bm25Terms.indices.map { i =>
      s"(((CAST(n_docs - df$i AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
        s"(CAST(df$i AS DOUBLE) + CAST(0.5 AS DOUBLE))) * " +
        s"(CAST(tf$i AS DOUBLE) * CAST(2.2 AS DOUBLE)) / " +
        s"(CAST(tf$i AS DOUBLE) + norm))"
    }.mkString(" + ")

  private def bm25NHitSql: String =
    Bm25Terms.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** q129 kernel. Two map-only passes over the corpus: pass 1 aggregates
    * (N, Σdl, df per query term) into ONE row; pass 2 scores each doc
    * against that broadcast row and keeps the global top-k via
    * TakeOrdered. Per-doc tf for all query terms comes from a single
    * graft_token_tf call (the doc's tokens already live in one row —
    * no (doc, token) exchange exists), probed with try_element_at
    * (ANSI-safe: absent term → 0). */
  def bm25TopK(docs: DataFrame): DataFrame = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(coalesce(try_element_at(tfm, '$t'), 0) AS BIGINT) AS tf$i" }
    val base = docs
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS dl",
        "map_from_entries(graft_token_tf(text)) AS tfm")
      .selectExpr("doc_id" +: "dl" +: tfCols: _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        Bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    base.crossJoin(broadcast(stats))
      .selectExpr(Seq("doc_id", "dl", s"CAST($bm25NHitSql AS INT) AS n_hit",
        s"$bm25NormSql AS norm") ++
        Bm25Terms.indices.flatMap(i => Seq(s"tf$i", s"df$i")) :+ "n_docs": _*)
      .selectExpr("doc_id", s"$bm25ScoreSql AS score", "dl", "n_hit")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25K)
  }

  /** q126 kernel: overlapping token-window chunking (`window` tokens at
    * `stride`). Chunk starts are every multiple of `stride` below the
    * token count, so expansion is bounded by window/stride regardless of
    * document length, and the whole operator is map-side (tokenize,
    * explode the start sequence, clamped slice — PlanAuditSpec pins zero
    * exchanges). Tail chunks shorter than `window` are emitted as-is;
    * a doc shorter than `stride` yields exactly one chunk.
    */
  def tokenChunks(docs: DataFrame, window: Int = 32,
      stride: Int = 16): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("start",
        explode(sequence(lit(0), col("n") - 1, lit(stride))))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        (least(col("start") + window, col("n")) - col("start")).cast("int")
          .as("n_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"))

  /** q127 kernel: top-`k` TF-IDF terms per document. The idf surrogate is
    * the exact rational tf·N/df evaluated as one IEEE double division of
    * exact integers (bit-identical in any engine; log() would not be), so
    * ranking is deterministic with the token tie-break.
    *
    * Shuffle budget — the first cut moved the corpus TWICE (a (doc,
    * token) tf shuffle, then a doc_id window sort) and measured 3.3 s at
    * sf5. Now: per-doc tf comes from the `graft_token_tf` kernel — a
    * document's tokens already live in one row, so counting them never
    * needs an exchange; only the VOCAB-sized doc-frequency aggregate
    * shuffles (map-side combined (token) rows); df broadcasts back
    * (pinned — the corpus side's scan estimate must never win the build
    * side, the q111 lesson; for an open-vocabulary corpus drop the hint
    * and the join degrades to a shuffle gracefully); and the per-doc
    * top-k is the house bounded Aggregator, which collapses each doc to
    * ≤k rows BEFORE its shuffle because the scored stream keeps scan
    * order — no window, no corpus sort, no corpus-sized exchange
    * anywhere.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = docs.count() // parquet-metadata count, not a scan
    val tf = docs
      .select(col("doc_id"), explode(expr("graft_token_tf(text)")).as("t"))
      .select(col("doc_id"), col("t.token").as("token"), col("t.tf").as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        ((col("tf") * nDocs).cast("double") / col("df")).as("score"))
    val topk = udaf(new graft.functions.TopTermsByScore(k))
    scored.groupBy("doc_id")
      .agg(topk(col("score"), col("token"), col("tf"), col("df")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rk"),
        col("t.token").as("token"), col("t.tf").as("tf"),
        col("t.df").as("df"), col("t.score").as("score"))
  }

  /** q124 kernel: exact vocab-coverage curve. The (token → freq) table
    * is the only corpus-sized computation (one map-side-combining
    * shuffle); `total` aggregates the TYPE counts (vocab-sized), the
    * top-`ks.max` frequency prefix collects via a bounded TakeOrdered
    * (ties broken by token, matching the oracle's row_number ORDER BY),
    * and the curve itself is assembled driver-side in exact integer
    * arithmetic (truncating division == DuckDB `//` for non-negatives).
    */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10, 20, 30)): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq")).persist()
    val total = graft.Bounded.one(counts.agg(sum(col("freq"))),
      "q124 total token occurrences (1-row aggregate)").getLong(0)
    val top = graft.Bounded.collect(
      counts.orderBy(col("freq").desc, col("token")).limit(ks.max),
      cap = ks.max, what = "q124 top-k token frequencies")
      .map(_.getLong(1))
    counts.unpersist()
    val cum = top.scanLeft(0L)(_ + _)
    ks.map { k =>
      val covered = cum(math.min(k, top.length))
      (k, covered, total, covered * 1000000L / total)
    }.toDF("top_k", "covered_occurrences", "total_occurrences",
      "coverage_micro")
  }

  /** q121 kernel: exact decile boundaries per source via the
    * shuffle-free selection kernel, then map-only decile assignment
    * (`filter` HOF over the source's literal boundary array — a doc's
    * decile is the number of boundaries strictly below its score) and a
    * bounded final aggregate. Boundary rounding runs through Spark's own
    * `round` on a local frame (the q86 fences idiom) so the literals are
    * bit-identical to the oracle's round(quantile_cont, 6).
    */
  def scoreDecileAudit(docs: DataFrame): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val pcts = StatsQueries.exactGroupPercentiles(docs, "source", "n_chars", ps)
    val s = docs.sparkSession
    import s.implicits._
    val sources = pcts.keys.map(_._1).toSeq.distinct.sorted
    val bounds = graft.Bounded.collect(
      sources.flatMap(src => ps.map(p => (src, p, pcts((src, p)))))
        .toDF("src", "p", "raw")
        .select(col("src"), col("p"), round(col("raw"), 6).as("b")),
      cap = sources.length * ps.length, what = "q121 decile boundary table")
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1).map { case (src, rows) =>
        src -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val bArr = sources.foldLeft(lit(null).cast("array<double>")) { (acc, src) =>
      when(col("source") === src, array(bounds(src).map(lit): _*)).otherwise(acc)
    }
    docs
      .withColumn("decile",
        size(filter(bArr, x => col("n_chars") > x)))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
  }

  /** q115 kernel: per-doc boilerplate-shingle audit against the corpus
    * doc-frequency table. Distinct n-token shingles per doc
    * (`graft_shingles` — first-occurrence distinct, matching the oracle's
    * list_distinct), doc-frequency >= the threshold marks boilerplate.
    *
    * Two threshold modes: ABSOLUTE (`minDocFreq`, the oracle-checked
    * default — "any shingle in >= 2 docs") and FRACTION
    * (`minDocFreqFraction = Some(f)` — threshold = max(minDocFreq,
    * ceil(f * corpus docs))). The fraction mode is the production knob at
    * scale: on a bounded-vocabulary corpus the absolute-2 frequent set
    * grows superlinearly with corpus size (chance 5-gram collisions —
    * measured in DEDUP_CANDIDATES; 1.15 M keys at sf5), while a
    * docfreq FRACTION keeps "boilerplate" meaning "appears in a fixed
    * share of the corpus", so the frequent set shrinks as the corpus
    * grows past threshold/f docs. The doc count driving the threshold is
    * a parquet-metadata count, not a scan. Public so DedupSpec can pin
    * both the planted-boilerplate behavior and the fraction scaling.
    */
  def boilerplateScrub(docs: DataFrame, n: Int = 5,
      minDocFreq: Long = 2L,
      minDocFreqFraction: Option[Double] = None): DataFrame = {
    val threshold = minDocFreqFraction match {
      case Some(f) => math.max(minDocFreq, math.ceil(f * docs.count()).toLong)
      case None => minDocFreq
    }
    val keyed = docs
      .selectExpr("doc_id", s"explode(graft_shingles(text, $n)) AS sh")
      .select(col("doc_id"), xxhash64(col("sh")).as("k"))
    val frequent = keyed.groupBy("k").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= threshold)
      .select(col("k"), lit(1L).as("is_b"))
    keyed.join(frequent, Seq("k"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
      .select(col("doc_id"), col("n_sh"), col("n_boiler"),
        // exact integer micro-units (the q111/q114 idiom), not a rounded
        // double quotient: round(x, 6) on a decimal-tie quotient like
        // 1/128 leans on Spark's BigDecimal HALF_UP agreeing with
        // DuckDB's float-path rounding — a 1-ulp divergence channel the
        // floor division closes (n_boiler ≤ n_sh, so the product is
        // ≤ 10⁶·n_sh, nowhere near BIGINT range)
        expr("n_boiler * 1000000L div n_sh").as("boiler_frac_micro"))
  }

  /** q118 kernel: per-doc repetition statistics — top-bigram occurrence
    * fraction and duplicate-5-gram occurrence fraction, the Gopher-style
    * repetition quality signals (adapted from character fractions to
    * occurrence fractions so both engines compute in exact integers).
    * Docs under 5 tokens are skipped (no 5-gram stream; both fractions
    * would be degenerate). Grams are MULTISET n-grams (every occurrence,
    * unlike `graft_shingles`' first-occurrence distinct).
    *
    * ZERO SHUFFLE: every gram of a doc lives in that doc's own row, so
    * per-doc multiset statistics are PER-ROW expressions, not
    * aggregations — the top-bigram multiplicity is the longest equal-run
    * of the sorted gram array (`array_sort` + an `aggregate` HOF carrying
    * (prev, run, best)), the duplicate mass is `size − size(array_distinct)`.
    * The first cut of this operator shuffled two hashed-gram streams
    * (~50 M rows at sf5) to count per-(doc, gram) multiplicities that a
    * per-row fold computes in place; this form is a single map-only pass
    * (measured 10.5 s → 4.5 s at sf5 — the residue is the
    * interpreter-bound HOF fold, already 2.3× ahead of the shuffle form
    * and shuffle-free at any scale) and is embarrassingly parallel at
    * any corpus size. Thresholds are occurrence-fraction micro-units; the
    * defaults mirror the registration's oracle literals.
    */
  def repetitionAudit(docs: DataFrame, top2Micro: Long = 180000L,
      dup5Micro: Long = 150000L): DataFrame = {
    // one native kernel call per row computes all four statistics in a
    // single token pass ([[graft.plans.GramStats]]); null = under 5
    // tokens, which IS the skip filter. An earlier form computed the
    // same numbers with array_sort + aggregate/array_distinct HOFs —
    // identical results, but interpreted per-ELEMENT lambda dispatch
    // made it ~7× the cost of this per-ROW call (4.5 s → 0.67 s at sf5;
    // the round-13 first cut, which SHUFFLED hashed gram streams to
    // count per-doc multiplicities, measured 10.5 s).
    docs.select(col("doc_id"), expr("graft_gram_stats(text)").as("gs"))
      .filter(col("gs").isNotNull)
      .select(col("doc_id"),
        col("gs.n2").as("n2"), col("gs.top2").as("top2"),
        expr("gs.top2 * 1000000L div gs.n2").as("top2_micro"),
        col("gs.n5").as("n5"),
        expr("(gs.n5 - gs.d5) * 1000000L div gs.n5").as("dup5_micro"))
      .withColumn("rep_flagged",
        col("top2_micro") > top2Micro || col("dup5_micro") > dup5Micro)
  }

  /** q114 kernel: DSIR-style importance scoring of the non-target pool
    * against a target source set, in exact BIGINT arithmetic (see the
    * q114 registration comment for the derivation). Public so DedupSpec
    * can pin the scores against an independent driver-side computation on
    * a constructed corpus.
    */
  def dsirSelect(docs: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1")): DataFrame = {
    val isTarget = col("source").isin(targetSources: _*)
    // token → 2-hex-char md5 bucket (256 buckets); md5 because it is the
    // one hash both engines spell identically (the q105/q107 idiom)
    val toks = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("token")), 1, 2).as("b"))
    val hist = toks.groupBy("b").agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
      sum(when(isTarget, 0L).otherwise(1L)).as("cr"))
    // Degenerate-corpus guard: nt = 0 (raw docs exist but no target doc)
    // would make the non-ANSI `div` below return NULL — score and
    // selected silently NULL while DuckDB's `//` raises, so the engines
    // would diverge quietly instead of failing loudly. The guard lives IN
    // the projected total (not a filter predicate, which the optimizer
    // simplifies away around raise_error): it evaluates once, when the
    // 1-row broadcast builds, and the Verify marker frame turns the raise
    // into a visible schema-mismatch row. nr = 0 needs no guard — it
    // implies an empty raw pool, so the probe side is empty and BOTH
    // engines agree on an empty result without touching the division.
    val tot = hist.agg(sum("ct").as("nt0"), sum("cr").as("nr"))
      .selectExpr(
        "CASE WHEN nt0 > 0 THEN nt0 ELSE CAST(raise_error('q114: empty target pool (nt = 0)') AS BIGINT) END AS nt",
        "nr")
    toks.filter(!isTarget)
      .join(broadcast(hist), "b")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(expr("ct * 1000000L div nt - cr * 1000000L div nr")).as("score"))
      .select(col("doc_id"), col("score"), (col("score") > 0L).as("selected"))
  }

  /** q111 kernel: per-doc average add-one-smoothed bigram conditional
    * probability in exact micro-units (integer floor division only — see
    * the q111 registration comment). Public so StatsSpec can pin the
    * arithmetic on a hand-computed corpus.
    */
  /** q111/q112 shared pieces: the per-occurrence bigram stream `bg`, the
    * corpus bigram-count table `bc` (eagerly materialized — it is read
    * twice per query, and at any scale it is the distinct-bigram table a
    * count-based LM materializes anyway), the unigram counts `uc`, and
    * the vocabulary-size scalar `vDf`.
    *
    * Two structural savings over the r9 shape (measured on the fixture
    * corpus — a per-(doc,bigram) pre-aggregation was also tried and
    * REJECTED: the in-doc duplicate factor is ~1.02, so the extra 3-key
    * corpus-sized shuffle cost more than the join rows it saved):
    *  - `uc` is a ROLLUP of `bc` (c1(w1) = Σ_w2 c12(w1,w2)), not a second
    *    aggregation of the occurrence stream — one corpus-sized pass
    *    replaces two, and the rollup input is the tiny count table;
    *  - `bc` is checkpointed, so its subtree (the only corpus-sized
    *    aggregation) runs once even though the scoring plan reads it for
    *    both the c12 join and the uc rollup.
    */
  private def bigramParts(docs: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val bg = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = Lineage.truncate(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val uc = bc.groupBy("w1").agg(sum(col("c12")).as("c1"))
    // vocabulary over ALL docs' tokens (the oracle's unnest is unfiltered
    // too — single-token docs still contribute to V). Derived from the
    // CHECKPOINTED count table, not a second corpus-sized token pass:
    // every token of a ≥2-token doc appears as some bigram's w1 or w2,
    // and a doc splits to a single token exactly when its text has no
    // separator — so the corpus contributes only a cheap no-space filter
    // scan where r13 exploded and distinct-shuffled the full token stream.
    val vDf = bc.select(col("w1").as("tok"))
      .union(bc.select(col("w2").as("tok")))
      .union(docs.filter(!col("text").contains(" "))
        .select(col("text").as("tok")))
      .agg(countDistinct(col("tok")).as("vs"))
    // The scoring join consumes c12 and c1 side by side; CHECKPOINT the
    // merged table so the big join sees its EXACT size — a join of two
    // estimated inputs gets multiplicative row guesses, and the inflated
    // estimate pushed AQE past the broadcast threshold at sf1/sf2,
    // shuffling the corpus-sized occurrence stream (measured 1.7 → 6.1 s
    // at sf2 before this checkpoint). Vocab²-bounded write, one job.
    val counts = Lineage.truncate(bc.join(uc, Seq("w1")))
    (bg, counts, vDf)
  }

  /** The scoring stream: one row per bigram occurrence with its corpus
    * counts and the vocabulary size — (doc_id, w1, w2, c12, c1, vs).
    * The per-distinct-bigram counts pre-join into ONE table (c12 and c1
    * side by side, vocab²-bounded), so the corpus-sized occurrence
    * stream meets a single join — AQE broadcasts the count table at any
    * realistic vocabulary and the occurrence stream never shuffles.
    */
  private def bigramJoined(docs: DataFrame): DataFrame = {
    val (bg, counts, vDf) = bigramParts(docs)
    // the broadcast hint pins BuildRight: Catalyst's size estimate for
    // the exploded occurrence stream (a filtered two-column scan of a
    // compressed parquet) can undercut the checkpointed count table's
    // in-memory size, and without the hint it BROADCAST THE CORPUS SIDE
    // at sf1/sf2 (measured 1.5 → 6 s). counts is the vocab²-bounded side
    // by construction; at open-web vocabulary q112's CMS is the scale
    // path and this exact form is the oracle anchor.
    bg.join(broadcast(counts), Seq("w1", "w2"))
      .crossJoin(broadcast(vDf))
  }

  def bigramLmScore(docs: DataFrame): DataFrame =
    bigramJoined(docs)
      .select(col("doc_id"),
        expr("((c12 + 1) * 1000000L) div (c1 + vs)").as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(term) div count(1)").as("lm_score_micro"))

  /** q112 kernel: q111's exact score PLUS a count-min-sketch audit — the
    * open-web scale path for the bigram model. At 100 TB the exact
    * bigram/unigram count tables stop fitting anywhere comfortable; a CMS
    * of the same streams is megabytes at any corpus size, broadcastable,
    * and carries the classic one-sided guarantee est ≥ exact, and
    * est ≤ exact + eps·N with probability `confidence` per point. This
    * query IS the audit of that substitution: for every bigram occurrence
    * it probes both sketches and verifies the overcount stays within
    * eps·N (N from the sketch's own totalCount — no extra pass), reduced
    * per doc with bool_and. The oracle emits literal TRUEs — the q74
    * HLL/approx-percentile within-bound pattern. Sketch probes run through
    * the codegen'd [[graft.plans.CmsProbe]] expression (Spark ships a
    * count_min_sketch AGGREGATE but no probe function): two array reads
    * per row over a sketch broadcast once per executor, inside
    * WholeStageCodegen, outside every shuffle. Deterministic: fixed seed,
    * and CMS merge is counter addition (commutative), so the sketch is
    * identical whatever the aggregation order.
    */
  def bigramLmCms(docs: DataFrame, eps: Double = 1e-4,
      confidence: Double = 0.999, seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (bg, counts, vDf) = bigramParts(docs)
    // ONE pass over the (small, checkpointed) COUNT table builds BOTH
    // sketches — zero corpus-sized passes where r9 ran two sequential
    // stat.countMinSketch driver jobs over the full occurrence stream.
    // CMS counters are linear, so weighted adds reproduce the occurrence
    // stream's counters exactly: add(bigram, c12) == c12 separate adds,
    // and for the unigram sketch Σ_w2 add(w1, c12(w1,w2)) == add(w1, c1)
    // — same counters, same totalCount (= N occurrences), and the
    // partial-buffer merge is counter addition (commutative), so with
    // the fixed seed the sketches are bit-identical whatever the
    // partitioning/order.
    // coalesced agg input — the q150 sbSketches rationale: one ~3.2 MB
    // two-sketch buffer serializes per input partition toward the single
    // merge task; the count table is vocab-scale, so a quarter of the
    // cores keeps inserts parallel while the merge moves 4× fewer bytes
    val mergeParts = math.max(1, spark.sparkContext.defaultParallelism / 4)
    val bytes = graft.Bounded.one(
      counts
        .select(lit(0), concat_ws(" ", col("w1"), col("w2")), col("w1"), col("c12"))
        .coalesce(mergeParts)
        .as[(Int, String, String, Long)]
        .select(new CmsPairsAgg(1, eps, confidence, seed).toColumn),
      "q112 merged CMS pair")
    val in = new java.io.ByteArrayInputStream(bytes)
    val cms12 = CountMinSketch.readFrom(in)
    val cms1 = CountMinSketch.readFrom(in)
    // The per-probe CMS contract is est ≥ exact, and est ≤ exact + eps·N
    // with probability `confidence` PER PROBE (N from each sketch's own
    // totalCount — no extra pass). The audit reduces millions of probes
    // with bool_and against an oracle that emits literal TRUE, so the
    // audited slack is 2·eps·N. That doubling is not hand-waving — it has
    // a stated bound: Spark's CMS uses width = ceil(2/eps) and depth =
    // ceil(log2(1/(1-confidence))) (10 at the 0.999 default), each row's
    // expected overcount is ≤ eps·N/2, so by Markov a row exceeds 2·eps·N
    // with probability ≤ 1/4 and the depth-row minimum does with
    // probability ≤ 4^-depth ≈ 1e-6 — about one expected flip per million
    // probed rows, vs ~1e-3 at the un-doubled eps·N slack the per-probe
    // confidence targets. With the pinned seed the verdict is
    // deterministic for any fixed corpus; for a corpus large enough that
    // probes·4^-depth approaches 1, the principled knob is the union
    // bound — confidence = 1 - delta/expected_probes, depth grows as
    // log2(probes/delta) and sketch build cost is linear in depth — not a
    // wider slack.
    val slack12 = math.ceil(2 * eps * cms12.totalCount()).toLong
    val slack1 = math.ceil(2 * eps * cms1.totalCount()).toLong
    // Probe the sketches on the DISTINCT-bigram count table, not per
    // occurrence: the bound check depends only on (w1, w2), so auditing
    // it once per distinct bigram and carrying the verdict booleans
    // through the occurrence join is pointwise identical to the r13
    // per-occurrence probes (bool_and over the same row multiset) while
    // evaluating ~|corpus occurrences| / |distinct bigrams| fewer
    // estimateCount calls and string concats — the probes now cost
    // vocab², whatever the corpus size.
    // Broadcast handles, not plan literals (round 20 — the q150 CmsProbe
    // rationale: the two ~1.6 MB sketches rode every probe stage's task
    // binary twice each and re-deserialized per task).
    def cmsProbe(cms: CountMinSketch, key: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CmsProbe(spark.sparkContext.broadcast(cms),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(key)))
    val audited = counts
      .withColumn("e12", cmsProbe(cms12, concat_ws(" ", col("w1"), col("w2"))))
      .withColumn("e1", cmsProbe(cms1, col("w1")))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        expr(s"e12 >= c12 AND e12 <= c12 + $slack12").as("b12"),
        expr(s"e1 >= c1 AND e1 <= c1 + $slack1").as("b1"))
    bg.join(broadcast(audited), Seq("w1", "w2")) // see bigramJoined: pin BuildRight
      .crossJoin(broadcast(vDf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(((c12 + 1) * 1000000L) div (c1 + vs)) div count(1)")
          .as("lm_score_micro"),
        expr("bool_and(b12)").as("cms12_ok"),
        expr("bool_and(b1)").as("cms1_ok"))
  }

  /** A sketch's serialized bytes ([[sbCmsReduction]]'s size metric). */
  private def sketchBytes(cms: CountMinSketch): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }

  /** q92/q113 shared shingle streams over the planted-leak corpus:
    * (all-doc 5-token shingle rows (doc_id, n_sh, sh), distinct eval
    * shingles). The eval set is LAZILY checkpointed: its first action both
    * materializes the checkpoint and returns that action's result, so
    * q113's sizing count doubles as the materialization job (q92's only
    * read — the exact join — likewise materializes it in place).
    */
  private def decontamShingles(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = leakCorpus(docs.select(col("doc_id"), col("text")))
      .selectExpr("doc_id", "graft_shingles(text, 5) AS shs")
      .selectExpr("doc_id", "size(shs) AS n_sh", "explode(shs) AS sh")
    val ev = Lineage.truncate(sh.filter(col("doc_id") % 50 === 0).select("sh").distinct(),
      eager = false)
    (sh, ev)
  }

  /** q113 kernel: q92's exact decontamination behind a broadcast Bloom
    * membership pre-filter (see the q113 registration comment for the
    * scale rationale). Returns exactly q92's rows: the pre-filter is
    * semantics-free because Bloom error is one-sided — mightContain =
    * false proves the shingle never occurred in the eval set, and any
    * false positive it lets through dies in the exact join. The filter
    * is sized from the eval set's own cardinality (Spark's optimal-k
    * construction), so candidate reduction is scale-invariant: survivors
    * ≈ true hits + fpp·corpus at EVERY corpus size. The exact join is
    * deliberately NOT broadcast-hinted: at eval-set sizes where the
    * sketch path matters the distinct shingle set exceeds broadcast
    * range and the join must shuffle — but only the pre-filter
    * SURVIVORS shuffle, which is the entire point (AQE still picks a
    * broadcast join on its own at fixture scale).
    */
  def decontaminateBloom(docs: DataFrame, fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val (sh, ev) = decontamShingles(docs)
    sh.filter(col("doc_id") % 50 =!= 0)
      .filter(bloomProbe(spark, evalBloom(ev, fpp), col("sh")))
      .join(ev, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        round(count(lit(1)) / max(col("n_sh")), 6).as("contaminated_frac"))
  }

  /** The q113 membership filter: a Bloom filter over the distinct eval
    * shingles, sized by their exact count. The sizing count is NOT an
    * extra pass: `ev` arrives lazily checkpointed ([[decontamShingles]]),
    * so `ev.count()` IS the checkpoint-materialization job, and the
    * distributed `stat.bloomFilter` aggregation over the now-cached rows
    * is the only additional job over `ev`. (Exact sizing fundamentally
    * precedes insertion — Bloom bit-width is a function of n — so a
    * single-pass (count, bloom) aggregate can't exist without either
    * buffering every item or guessing capacity.) Deterministic — Spark's
    * Bloom hashing is seed-free.
    */
  private def evalBloom(ev: DataFrame, fpp: Double): BloomFilter =
    ev.stat.bloomFilter("sh", math.max(ev.count(), 1L), fpp)

  /** Bloom membership Column over a broadcast handle (round 20 — the
    * [[graft.plans.CmsProbe]] rationale applied to every Bloom call site:
    * a literal filter rides each probe stage's task binary twice and
    * re-deserializes per task; the handle ships it once per executor).
    */
  private def bloomProbe(spark: SparkSession, bf: BloomFilter,
      key: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.BloomProbe(spark.sparkContext.broadcast(bf),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(key)))

  /** (corpus shingle rows, rows surviving the Bloom pre-filter) — the
    * q113 candidate-reduction measurement behind DedupSpec's saturation
    * pin. Because the filter is sized from the eval cardinality,
    * survivors ≈ true hits + fpp·rows at every scale.
    */
  private[graft] def decontamReduction(docs: DataFrame, fpp: Double = 0.01): (Long, Long) = {
    val (sh, ev) = decontamShingles(docs)
    val corpusSh = sh.filter(col("doc_id") % 50 =!= 0)
    val probe = bloomProbe(docs.sparkSession, evalBloom(ev, fpp), col("sh"))
    (corpusSh.count(), corpusSh.filter(probe).count())
  }

  /** q103 kernel: q87 transitive clusters joined with the q47 quality
    * score, each cluster reduced to its best member ([[keepBest]]).
    *
    * Everything beyond the CC pass is LAZY — one downstream action runs
    * scan→quality→join→argmax as a single job. The CC labels come back
    * eagerly checkpointed ([[labelPropagation]]'s final expand), so by
    * construction the corpus has exactly one lazy consumer (the quality
    * scan) and nothing here needs a persist or an intermediate
    * checkpoint: the r10 form's corpus persist + eager member-table
    * checkpoint guarded against double consumption that no longer exists
    * since [[keepBest]] became a single aggregation — at sf1 they cost
    * ~1 s/run in cache+checkpoint writes and an extra driver job.
    */
  def qualityKeep(corpus: DataFrame): DataFrame = {
    val cc = connectedComponents(corpus).select("doc_id", "canonical")
    val qual = corpus
      .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"$qualitySparkSql AS quality")
    keepBest(cc.join(qual, "doc_id").select("doc_id", "canonical", "quality"))
  }

  /** argmax(quality, tie → min doc_id) per cluster over (doc_id, canonical,
    * quality) rows, as ONE exact hash aggregation: max of the struct
    * (quality, -doc_id) orders lexicographically — highest quality first,
    * then the negated id so ties resolve to the SMALLEST doc_id. No
    * window, no sort, and crucially a single pass over the member table:
    * the earlier two-aggregation form (groupBy-max + join-back-and-filter)
    * consumed `m` twice, which recomputed the whole corpus+quality subtree
    * per use — at sf1 that doubled q103's non-CC cost. One map-side-
    * combining exchange on `canonical` at any scale. Public so DedupSpec
    * can pin the tie-break on a controlled cluster table.
    */
  def keepBest(m: DataFrame): DataFrame =
    m.groupBy(col("canonical").as("cluster_id"))
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.nid")).as("keep_id"),
        col("best.quality").as("max_quality"), col("n_members"))

  /** q104 kernel: deterministic global rank of every doc under the
    * md5(doc_id) permutation WITHOUT a global sort. Two-pass distributed
    * ranking — the same structure RangePartitioner uses (a tiny metadata
    * pass, then one partitioned pass), but with deterministic hash-prefix
    * shards instead of sampled range boundaries:
    *  1. shard = first `prefixHexDigits` hex digits of the key (16^p
    *     shards, fixed for any corpus size); per-shard counts are a
    *     16^p-row aggregate collected to the driver — bounded by
    *     construction, like the IVF centroid table — and turned into
    *     prefix-sum offsets;
    *  2. rank = shard offset + row_number within the shard (window
    *     PARTITIONED by shard — never a global single-partition window),
    *     offsets joined back by broadcast.
    * md5 is a bijective-in-practice permutation of doc_ids (a collision
    * would only tie two docs, broken by the doc_id tiebreak), and hex
    * prefix order == string order, so shard-major + within-shard order
    * IS the global md5 order — for ANY prefix width: widening the prefix
    * only refines the same string order, so the rank is
    * width-invariant (SamplingSpec pins ranks identical at widths 2 and
    * 4). The width is therefore purely a parallelism knob: p=3 gives
    * 4096-way sort parallelism (~0.02% of the corpus per window task at
    * any scale) where the old fixed p=2 capped it at 256 tasks; p=4
    * (65536 shards) is the 100 TB setting. Keys are uniform (md5), so
    * shard skew is a non-issue at every width.
    */
  def trainingOrder(docs: DataFrame, prefixHexDigits: Int = 3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val p = prefixHexDigits
    require(p >= 1 && p <= 7, s"prefix width $p outside conv()'s INT range")
    val keyed = docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("shard", expr(s"CAST(conv(substring(skey, 1, $p), 16, 10) AS INT)"))
    val counts = graft.Bounded.collect(
      keyed.groupBy("shard").agg(count(lit(1)).as("cnt")),
      cap = 1 << (4 * p), what = s"q104 16^$p shard count table")
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init).toSeq
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    keyed.join(broadcast(offsets.toDF("shard", "offset")), "shard")
      .select(col("doc_id"),
        (col("offset") + row_number().over(w)).as("shuffle_rank"))
  }

  /** Connected components (min-id labels) over the LSH bucket graph of
    * `corpus` (doc_id, text) — the q87 kernel, public so specs can run it
    * on controlled corpora. Output: (doc_id, canonical, kept). The star
    * edge list goes to [[labelPropagation]], which finishes it on the
    * driver in one fetch when it has at most [[DriverRows]] edges (one
    * Spark job instead of one or more per propagation round) and runs
    * the distributed round loop otherwise.
    */
  def connectedComponents(corpus: DataFrame): DataFrame =
    labelPropagation(corpus.select("doc_id"), starEdges(corpus))._1

  /** The symmetric (src, dst) star edge list [[connectedComponents]] runs
    * on — its own method so DedupSpec can feed the same edges to both CC
    * paths.
    */
  private[graft] def starEdges(corpus: DataFrame): DataFrame = {
    // STAR edges per CAPPED bucket (r10; r9 joined all pairs within each
    // bucket): every member ↔ the bucket's min doc_id. Connectivity — and
    // hence components and their min labels — is identical to the
    // all-pairs bucket join, because any two co-bucketed docs connect
    // through the bucket min; but the list is ≤ 2(k−1) edges per k-member
    // bucket instead of k², so every pass that touches edges (the dedup,
    // the src repartition, each round's scan, the round-1 groupBy fold)
    // moves a BucketCap/2-times smaller table at any scale, and no join
    // exists at all where r9 ran the suite's biggest self-join. The
    // oracle keeps its all-pairs closure: same components, same labels.
    //
    // The bucket-min and the [[BucketCap]] count ride ONE WindowExec over
    // the bk64 hash partitioning (same frame, no ordering): the cap drops
    // whole buckets, never individual members, so min-over-bucket is the
    // same computed before or after the cap filter — composing
    // cappedBands + a second min window would sort the banded table
    // twice for the same rows. Both edge directions then come out of one
    // map-side explode of the two orientations (a union of the star rows
    // with their own swap would evaluate the minhash tree twice).
    val w = Window.partitionBy(col("bk64"))
    bandTable(corpus)
      .filter(col("band_key").isNotNull)
      .select(col("doc_id"), xxhash64(col("band"), col("band_key")).as("bk64"))
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bmin", min(col("doc_id")).over(w))
      .filter(col("bucket_n") <= BucketCap && col("doc_id") =!= col("bmin"))
      .select(explode(array(
        struct(col("doc_id").as("src"), col("bmin").as("dst")),
        struct(col("bmin").as("src"), col("doc_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Rows the driver takes in one piece: a frame under it may broadcast
    * (Spark builds every broadcast on the driver), and a CC edge list of
    * at most this many rows is fetched and finished by union-find on the
    * driver ([[labelPropagation]]). One figure for both decisions, and a
    * constant, so other objects' initializers may read it.
    */
  final val DriverRows = 2000000

  /** Connected components by min label over an EXPLICIT symmetric edge
    * list (src, dst): every doc's `canonical` is the smallest id of its
    * component, `kept` marks the canonical doc itself. Returns
    * (labels, rounds) — labels as (doc_id, canonical, kept), rounds the
    * distributed propagation rounds that ran (0 on the driver finish).
    *
    * A size dispatch over two paths with identical labels (a min-id label
    * is a property of the component, not of the algorithm that finds it;
    * DedupSpec pins the two paths equal):
    *  - DRIVER FINISH, when one orientation (src < dst) of the deduplicated
    *    edge list has at most [[DriverRows]] rows: ONE capped fetch
    *    ([[graft.Bounded.upTo]]), union-find with min-root unions on the
    *    driver, and the sparse labels (canonical < doc_id) expanded over
    *    `docs` through a broadcast variable. The loop pays at least one
    *    Spark job per round — a checkpoint barrier plus its driver round
    *    trip — for ~log2(diameter) + 2 rounds, and at small inputs those
    *    round trips ARE the cost; one capped fetch replaces all of them.
    *  - DISTRIBUTED LOOP ([[labelPropagationLoop]]) otherwise. The probe
    *    stops after cap + 1 rows of the same src-partitioned edge cache
    *    the loop reads, so falling back rebuilds nothing from the input.
    *
    * The cap is a property of the input (its edge count), not a setting.
    * Contract: `docs.doc_id` must be LongType; `edgesIn` must be
    * symmetric, self-edges NOT required.
    */
  def labelPropagation(docs: DataFrame, edgesIn: DataFrame): (DataFrame, Int) =
    withEdgeCache(edgesIn) { edges =>
      val s = docs.sparkSession
      import s.implicits._
      val oneWay = edges.filter(col("src") < col("dst"))
        .select("src", "dst").as[(Long, Long)]
      graft.Bounded.upTo(oneWay, DriverRows, "CC edge list, one orientation") match {
        case Some(e) =>
          // expand through a broadcast VARIABLE, not a join: Spark collects
          // a broadcast join's build side with a job even when it is a
          // local frame, and here the labels are already on the driver
          val labels = s.sparkContext.broadcast(unionFind(e))
          val canonical = udf((id: Long) => labels.value.getOrElse(id, id))
          val out = Lineage.truncate(docs
            .select(col("doc_id"), canonical(col("doc_id")).as("canonical"))
            .withColumn("kept", col("canonical") === col("doc_id")))
          // a truncation never recomputes its input, so the labels
          // are dead once it has materialized
          labels.destroy()
          (out, 0)
        case None =>
          labelPropagationLoop(docs, edges, DriverRows, (_, _, _) => ())
      }
    }

  /** Runs `f` over the CC edge cache — `edgesIn` partitioned on src,
    * deduplicated and persisted — and drops the cache when `f` returns
    * (both CC paths return an eagerly checkpointed result, so nothing
    * still reads it). Partitioning and dedup serve the loop; the driver
    * finish only needs the dedup.
    *
    * Partitioned on SRC, once, for the loop: every round aggregates
    * min-per-src — round 1 directly (groupBy(src) over the cache), later
    * rounds after a broadcast join that PRESERVES the streamed side's
    * partitioning — so a src-partitioned cache makes every round's
    * aggregate exchange-free: after the build, no round moves the edge
    * list at all while the frontier broadcasts. (A frontier too big to
    * broadcast re-shuffles edges dst-wards for that round's sort-merge
    * join; that regime is the first round or two of a giant corpus,
    * where a shuffle per round is the floor anyway.) ONE shuffle for
    * build+dedup, not two: repartition FIRST, then dropDuplicates —
    * hash(src) is a subset of the (src, dst) grouping keys, so the
    * dedup aggregate satisfies its clustered distribution in place and
    * EnsureRequirements inserts no second exchange.
    * LAZY persist: an eager `edges.count()` would add one driver-job
    * barrier per CC consumer purely to materialize the cache; instead
    * its first reader, [[labelPropagation]]'s capped probe, fills it
    * (adaptive execution builds a whole cache as one query stage), and
    * on the fallback the loop's rounds read it as they did before.
    */
  private[graft] def withEdgeCache[T](edgesIn: DataFrame)(f: DataFrame => T): T = {
    val edges = edgesIn.repartition(col("src"))
      .dropDuplicates("src", "dst").persist()
    try f(edges) finally edges.unpersist()
  }

  /** Union-find with min-root unions over an undirected edge list: a
    * union always hangs the larger root under the smaller, so every root
    * is the smallest id of its set and find(x) IS x's min label. Returns
    * the sparse labels the loop also converges to: id -> canonical for
    * every id with canonical < id; ids absent from it label themselves.
    * Only non-roots ever enter `parent`, and the last pass points each
    * straight at its root.
    */
  private def unionFind(edges: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = new scala.collection.mutable.LongMap[Long](edges.length)
    def find(x: Long): Long = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var c = x // path compression
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.foreach(find)
    parent
  }

  /** The distributed loop behind [[labelPropagation]], for edge lists
    * over [[DriverRows]] — split out so DedupSpec can inject an exact
    * chain graph of known diameter d and pin the pointer-halving claim as
    * a measured round count (≤ ceil(log2(d)) + 2), the way PlanAuditSpec
    * pins plans. Its round-per-job structure is logarithmic-round label
    * propagation in the style of Kiveris et al. (SoCC 2014). `edges` is
    * the src-partitioned, deduplicated cache [[withEdgeCache]] builds; the
    * caller owns it. Returns (labels, rounds); rounds counts every
    * executed propagation round including the final no-change
    * confirmation round (the round whose empty change-set ends the loop).
    *
    * Each doc's own current label always participates in the min, so
    * labels are monotone non-increasing regardless of edge shape (without
    * that, a self-edge-free symmetric chain can swap labels forever while
    * an empty per-round change-set reports a false fixed point).
    */
  private[graft] def labelPropagationLoop(docs: DataFrame, edges: DataFrame,
      broadcastChaseBelow: Long,
      // per-round observability hook: (round, frontierN, deltaN) as the
      // loop saw them — lets specs pin the observed sizes
      roundStats: (Int, Long, Long) => Unit): (DataFrame, Int) = {
    // lineage hygiene: each round references the merged delta from both
    // sides of the pointer join, so the logical plan grows geometrically
    // between truncations (an every-5-rounds variant OOM'd the driver just
    // STRINGIFYING the plan). Truncate every round: an eager checkpoint
    // keeps each round's plan a constant-depth tree over a LogicalRDD.
    // A round's truncation is dead once the next one (the next round's,
    // or the final expand's) has materialized: release it then, rather
    // than leave it pinned until a driver GC lets the ContextCleaner
    // notice (DedupSpec counts the persisted RDDs a call leaves).
    var live: Option[DataFrame] = None
    // SPARSE-DELTA LABELS (the r10 rewrite; r9 carried a corpus-sized
    // label table through every round): labels only ever differ from the
    // identity for docs inside a non-trivial component, so the loop state
    // is just `delta` = the (doc_id, canonical) pairs with
    // canonical < doc_id — docs absent from delta are their own label.
    // Every per-round join, chase, and checkpoint below is DELTA-sized
    // (bounded by total multi-doc component membership, not corpus size);
    // the corpus-sized doc list appears exactly ONCE, in the final left
    // join that expands delta back to total labels. At 100 TB the rounds
    // move megabytes while the r9 form re-materialized terabytes per
    // round — this is the difference that matters on a real cluster.
    //
    // SHRINKING FRONTIER: each round propagates only from docs whose
    // label changed in the previous round (round 0: everything — folded
    // into the edge aggregation, see below). Re-sending an unchanged
    // label is a no-op under min-merge, so an empty frontier IS the
    // edge-prop fixed point, which for a symmetric edge list forces
    // labels constant (= the min) on every component. Two actions per
    // round (r9 ran three; r12 ran two): ONE job — the eager checkpoint
    // materializes hop-merge + chase fused, and the frontier size plus the
    // delta size ride that same job as observed metrics
    // (`Dataset.observe` / CollectMetrics), so no second count job ever
    // scans the checkpointed delta. At ~0.9 s fixed driver-job overhead ×
    // ~3 rounds on this box, dropping the per-round count is a measured
    // constant win for every CC consumer (q87/q103/q116/q117).
    var delta = docs.limit(0).select(col("doc_id"),
      col("doc_id").as("canonical"))
    var frontier = delta
    var deltaN = 0L
    // loop entry needs only "is the corpus non-empty" — a limit-1 probe —
    // not the corpus-sized count the r12 form paid (frontierN from round 1
    // on comes from the observed metrics, and round 1 never reads it)
    var frontierN =
      if (graft.Bounded.nonEmpty(docs, "CC loop-entry probe")) Long.MaxValue
      else 0L
    var round = 0
    while (frontierN > 0) {
      round += 1
      // min over FRONTIER bucket-neighbors' labels; the doc's own current
      // label joins in at the merge step (the own-label term makes labels
      // monotone non-increasing even when the edge list carries no
      // self-edges — see the contract above). Below the broadcast
      // threshold the frontier ships to the edge partitions, so the
      // (larger) edge list never re-shuffles; round 1 folds the identity
      // frontier away entirely: min(nbr_can) over "everything labeled
      // itself" is just min(dst) per src over the edge list — only the
      // already-persisted edges shuffle src-wards with map-side partial
      // mins, and no corpus-sized set exists anywhere.
      val prop =
        if (round == 1)
          edges.groupBy(col("src")).agg(min(col("dst")).as("prop_can"))
        else {
          val nbr = frontier.select(col("doc_id").as("nbr"),
            col("canonical").as("nbr_can"))
          val nbrSide = if (frontierN < broadcastChaseBelow) broadcast(nbr) else nbr
          edges.join(nbrSide, col("dst") === col("nbr"))
            .groupBy(col("src")).agg(min(col("nbr_can")).as("prop_can"))
        }
      // merge proposals into the sparse delta: full outer join on doc_id
      // (both sides delta-sized). prev = the doc's current label (its own
      // delta entry, or itself); cur = min(prev, proposal).
      val merged = delta
        .withColumnRenamed("canonical", "old_can")
        .join(prop.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "full")
        .select(col("doc_id"),
          coalesce(col("old_can"), col("doc_id")).as("prev_can"),
          least(coalesce(col("prop_can"), col("doc_id")),
            coalesce(col("old_can"), col("doc_id"))).as("cur"))
        .persist()
      // star contraction / pointer halving over the merged delta: follow
      // each pointer one more hop (label(label(x))) so reach grows
      // geometrically — DedupSpec pins ≤ ceil(log2 d)+2 measured rounds
      // on planted chains. Every canonical value is itself a doc_id, and
      // a chase target absent from the delta is its own label, so the
      // left join + coalesce is total. In the r9 corpus-sized form this
      // self-join needed two physical variants and a changed-set count to
      // stay affordable; delta-sized, the unconditional single form is
      // strictly more reach for negligible cost (the whole table is the
      // size of the changed docs' components).
      val ptr = merged.select(col("doc_id").as("p_id"), col("cur").as("p_can"))
      val chased = merged.join(ptr, merged("cur") === ptr("p_id"), "left")
        .select(merged("doc_id"),
          coalesce(col("p_can"), col("cur")).as("canonical"),
          col("prev_can"))
        .withColumn("chg", col("canonical") < col("prev_can"))
        // rows that gained no improvement over the identity never enter
        // the delta (keeping it minimal); genuine delta rows always have
        // canonical < doc_id, so this drops only the no-op proposals
        .filter(col("canonical") < col("doc_id"))
      // frontier + delta sizes ride the truncation job as observed
      // metrics: CollectMetrics is a streaming pass-through over the rows
      // the checkpoint materializes anyway, and `obs.get` blocks only
      // until that action's listener fires
      val obs = Observation(s"cc_round_$round")
      val next = Lineage.truncate(chased.observe(obs,
        sum(col("chg").cast("long")).as("chg_n"),
        count(lit(1)).as("delta_n")))
      val metrics = obs.get
      frontierN = observedLong(metrics, "chg_n", s"CC round $round")
      deltaN = observedLong(metrics, "delta_n", s"CC round $round")
      merged.unpersist()
      live.foreach(Lineage.release)
      live = Some(next)
      delta = next.select("doc_id", "canonical")
      frontier = next.filter(col("chg")).select("doc_id", "canonical")
      roundStats(round, frontierN, deltaN)
    }
    // ONE corpus-sized pass, after the loop converged: expand the sparse
    // delta over the full doc list. The delta row count is known-small
    // (bounded by multi-doc component membership), so broadcast it under
    // the same threshold that gates the frontier; the eager truncation
    // runs the job and cuts the whole loop lineage so the edge cache
    // and the last round's checkpoint can drop — the only thing left
    // pinned is the returned result's own blocks, which the session owns
    // for as long as the caller may re-read the DataFrame.
    // deltaN was observed on the last round's checkpoint job — no
    // post-loop count job (r12 paid one more delta-sized scan here)
    val deltaSide = if (deltaN < broadcastChaseBelow) broadcast(delta) else delta
    val out = Lineage.truncate(docs
      .join(deltaSide.withColumnRenamed("canonical", "d_can"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("d_can"), col("doc_id")).as("canonical"),
        coalesce(col("d_can"), col("doc_id")).equalTo(col("doc_id")).as("kept")))
    live.foreach(Lineage.release)
    (out, round)
  }

  /** q141 kernel — q137's learn loop ([[bpeLearn]]) with the encode
    * outputs (source, pre-encode token count) carried through every
    * rewrite, then one ≤|sources| aggregate of exact token sums. The
    * final token count re-tokenizes the double-spaced rendering ONCE
    * (map-side) — merged pairs count as a single token, exactly how the
    * inference tokenizer would see them.
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 3): DataFrame = {
    val (cur, _) = bpeLearn(docs, Seq(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_before")), nMerges, "q141")
    cur
      .select(col("source"), col("n_before"),
        expr("CAST(size(filter(split(t, '  '), x -> x != '')) AS BIGINT)")
          .as("n_after"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).as("tokens_before"),
        sum(col("n_after")).as("tokens_after"))
      .selectExpr("source", "n_docs", "tokens_before", "tokens_after",
        """CAST((tokens_after * 1000000) div tokens_before AS BIGINT)
           AS compression_micro""")
  }

  /** documents + planted CODE-SWITCHED docs for q143. The fixture's text
    * generator is English-flavored for EVERY `lang` label (zero de/es/fr
    * stopword hits corpus-wide — measured), so no concatenation of
    * fixture docs can ever produce chunk disagreement; instead every 5th
    * doc gains a +100000-keyed variant with a 32-token GERMAN tail built
    * from [[langStops]]'s own de row — the tail chunk votes 'de'
    * deterministically while the original chunks keep voting 'en', and
    * usually flips the whole-doc argmax too (32 de hits vs ~3 en hits),
    * which is exactly what a mislabeled mixed document looks like. The
    * plant is map-only (no derivation join) and keyed on the ORIGINAL
    * doc_id, so it is stable under ScaleData replication.
    */
  private lazy val mixedTail: String =
    Iterator.continually(langStops.find(_._1 == "de").get._2)
      .flatten.take(32).mkString(" ")
  private[graft] def mixedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
        concat(col("text"), lit(" " + mixedTail)).as("text")))
  }
  private lazy val mixedCorpusSql =
    s"""SELECT doc_id, lang, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, lang, text || ' $mixedTail'
       FROM documents WHERE doc_id % 5 = 0"""

  /** q145 kernel — the quality operating curve. One scoring scan, a
    * 5-literal threshold explode collapsed map-side by the partial
    * aggregate, per-source totals as a second |sources|-row aggregate
    * broadcast back for the share division. Nothing corpus-sized
    * shuffles; the output is |sources|×5 rows.
    */
  def qualitySweep(docs: DataFrame): DataFrame = {
    val sc = docs
      .selectExpr("doc_id", "source", "text", "split(text, ' ') AS toks")
      .selectExpr("source", "size(toks) AS n_tok",
        s"$qualitySparkSql AS quality")
    val tot = sc.groupBy("source")
      .agg(sum(col("n_tok")).cast("long").as("src_tokens"))
    sc.selectExpr("source", "n_tok", "quality",
        "explode(array(650000, 690000, 710000, 730000, 760000)) AS thr_micro")
      .groupBy("source", "thr_micro")
      .agg(
        sum(when(col("quality") * 1000000 >= col("thr_micro"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("quality") * 1000000 >= col("thr_micro"), col("n_tok"))
          .otherwise(0L)).cast("long").as("tok_kept"))
      .join(broadcast(tot), "source")
      .selectExpr("source", "CAST(thr_micro AS BIGINT) AS thr_micro",
        "n_kept", "tok_kept",
        "CAST((tok_kept * 1000000) div src_tokens AS BIGINT) AS tok_share_micro")
  }

  /** q149 kernel — one scan, a 16-group aggregate, the 1-row corpus
    * total broadcast back for the exact share division. */
  def shardManifest(docs: DataFrame): DataFrame = {
    val d = docs.selectExpr(
      "substring(md5(CAST(doc_id AS STRING)), 1, 1) AS shard",
      "size(split(text, ' ')) AS n_tok", "length(text) AS n_bytes", "source")
    val tot = d.agg(count(lit(1)).as("n"))
    d.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        sum(col("n_bytes")).cast("long").as("n_bytes"),
        countDistinct(col("source")).as("n_sources"))
      .crossJoin(broadcast(tot))
      .selectExpr("shard", "n_docs", "n_tokens", "n_bytes",
        "CAST(n_sources AS BIGINT) AS n_sources",
        "CAST((n_docs * 1000000) div n AS BIGINT) AS share_micro")
  }

  /** q146 kernel — q92 re-run at n = 5/8/13. Per n one corpus shingle
    * explode with the eval set broadcast; the three flagged sets union
    * into a 3-row table. The per-doc token count rides the exploded rows
    * THROUGH the hit dedup (round 21, guide §2.3/§3: the dedup key gains
    * n_tok, functionally dependent on doc_id, so cardinality is
    * unchanged) instead of joining a separate toks table back per arm —
    * the r15 form's `.join(toks, "doc_id")` planned as a corpus-sized
    * doc_id exchange PLUS an all-docs broadcast build in every arm
    * (AQE-final plan, sf5), which at 100 TB is an OOM-or-SMJ fallback; now
    * nothing docs-sized is built or shuffled after the probes (local A/B
    * flat: sf5 min 3.67 -> 3.62 s — the deleted joins were idle-core
    * overlap locally, the win is the scale shape). The three arms stay
    * SEPARATE subtrees on purpose: a measured single-pass fusion (one
    * explode tagging every shingle with its n, one (n,sh)-keyed probe,
    * 12 -> 3 exchanges) lost 27% at sf5 / 2% at sf10
    * (AB_q146_r21_sf5_after vs _before) because the independent arms
    * overlap their stages across idle cores while the fused chain
    * serializes — kept the overlap. Monotone by construction: an n-gram
    * hit contains an m-gram hit for every m < n.
    */
  def decontamSweep(s: SparkSession, dir: String): DataFrame = {
    val corpus = Lineage.truncate(leakCorpus(
        Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))))
    Seq(5, 8, 13).map { n =>
      val sh = corpus.selectExpr("doc_id",
        "size(split(text, ' ')) AS n_tok",
        s"explode(graft_shingles(text, $n)) AS sh")
      val ev = sh.filter(col("doc_id") % 50 === 0).select("sh").distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev), "sh").select("doc_id", "n_tok").distinct()
        .agg(count(lit(1)).as("n_flagged"),
          sum(col("n_tok")).cast("long").as("tok_flagged"))
        .select(lit(n).cast("int").as("ngram_n"), col("n_flagged"),
          col("tok_flagged"))
    }.reduce(_ unionByName _)
  }

  /** q147 kernel — one candidate generation + one Jaccard verification,
    * three integer-cross-multiplied cuts read out of the same aggregate.
    * The threshold explode multiplies CANDIDATE-scale rows only.
    */
  def neardupThresholdSweep(corpus: DataFrame): DataFrame = {
    val cand = candidatePairs(corpus)
    val shs = corpus.selectExpr("doc_id", "graft_shingles(text, 3) AS sh")
    val x = shs.select(col("doc_id").as("xid"), col("sh").as("xsh"))
    val y = shs.select(col("doc_id").as("yid"), col("sh").as("ysh"))
    cand.join(x, col("doc_id1") === col("xid"))
      .join(y, col("doc_id2") === col("yid"))
      .selectExpr(
        "doc_id2",
        "CAST(size(array_intersect(xsh, ysh)) AS BIGINT) AS i",
        """CAST(size(xsh) + size(ysh)
           - size(array_intersect(xsh, ysh)) AS BIGINT) AS u""")
      .selectExpr("doc_id2", "i", "u", "explode(array(5, 7, 9)) AS t10")
      .groupBy(col("t10"))
      .agg(
        sum(when(expr("10 * i") >= expr("t10 * u"), 1L).otherwise(0L))
          .as("n_pairs"),
        countDistinct(when(expr("10 * i") >= expr("t10 * u"),
          col("doc_id2"))).as("n_dup_docs"))
      .selectExpr("CAST(t10 * 100000 AS BIGINT) AS thr_micro",
        "n_pairs", "CAST(n_dup_docs AS BIGINT) AS n_dup_docs")
  }

  /** q144's corpus: documents plus ALL FOUR plant families, in disjoint
    * id blocks (base < 10000 per replica; ScaleData's 10⁶ doc stride
    * keeps every block inside its replica): exact dups (+10000, %7 —
    * q40's plant), near-dups (+20000, %10 — q42's), leaked eval copies
    * (+30001, %50 — q92's), repetitive spam (+40000, %25 — q91's). Each
    * funnel stage removes the family planted for it, so no stage is
    * measured against an empty set.
    */
  private lazy val funnelCorpusSql =
    s"""SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0
       UNION ALL SELECT doc_id + 20000, text || ' xtr tok end'
       FROM documents WHERE doc_id % 10 = 0
       UNION ALL $leakCopiesSql
       UNION ALL SELECT doc_id + 40000,
         rtrim(repeat('buy now ', 20)) || ' id' || CAST(doc_id AS VARCHAR)
       FROM documents WHERE doc_id % 25 = 0"""

  private[graft] def funnelCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" xtr tok end")).as("text")))
      .unionByName(leakCopies(d))
      .unionByName(d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          expr("concat(rtrim(repeat('buy now ', 20)), ' id', CAST(doc_id AS STRING))")
            .as("text")))
  }

  /** q144 kernel — the staged funnel. Every stage's survivor set
    * is truncated before feeding the next (constant-depth lineage;
    * CC inside [[qualityKeep]] checkpoints its own loop), membership
    * propagates via doc_id semi-/anti-joins, the eval shingle set
    * broadcasts, and the emitted plan is five stage aggregates unioned —
    * the heavy lifting ran eagerly, stage by stage, exactly like the
    * production pipeline it models.
    */
  def trainingFunnel(s: SparkSession, dir: String): DataFrame = {
    // NOT observe-fused (round 21, VERDICT r20 ask #7 — tried and measured
    // counterproductive): riding each stage's (n_docs, n_tokens) aggregate
    // on its checkpoint job as a CollectMetrics metric (the q137 idiom)
    // puts the tokenize work on the SERIAL s0→s3 checkpoint chain, where
    // the row() form below computes all four stage aggregates in ONE
    // PARALLEL final job over already-materialized checkpoint blocks —
    // sum-of-stage-costs vs max-of-stage-costs. A/B sf1
    // (AB_q144_r21_sf1_before/after): 6.67 s → 7.29 s fused (control
    // q111 1.54 → 1.61), so the fused form lost ~4-9% normalized.
    val s0 = Lineage.truncate(funnelCorpus(s, dir))
    val k1 = s0.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = Lineage.truncate(s0.join(k1, Seq("doc_id"), "leftsemi"))
    val k2 = qualityKeep(s1).select(col("keep_id").as("doc_id"))
    val s2 = Lineage.truncate(s1.join(k2, Seq("doc_id"), "leftsemi"))
    val ev = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 50 === 0)
      .selectExpr("explode(graft_shingles(text, 5)) AS sh").distinct()
    val hit = s2.selectExpr("doc_id", "explode(graft_shingles(text, 5)) AS sh")
      .join(broadcast(ev), "sh").select("doc_id").distinct()
    val s3 = Lineage.truncate(s2.join(hit, Seq("doc_id"), "left_anti"))
    val s4 = s3
      .selectExpr("doc_id", "text", "size(split(text, ' ')) AS n_tok",
        "size(graft_shingles(text, 2)) AS d2")
      .selectExpr("doc_id", "text", "n_tok",
        "round(1.0 - d2 / (n_tok - 1), 6) AS dup2",
        "round((length(text) - (n_tok - 1)) / n_tok, 6) AS mwl")
      .filter(expr("dup2 <= 0.3 AND mwl BETWEEN 2.0 AND 12.0 AND n_tok >= 10"))
      .select("doc_id", "text")
    def row(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(split(col("text"), " "))), lit(0L)).cast("long")
            .as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    Seq(row("s0_corpus", s0), row("s1_exact", s1), row("s2_neardup", s2),
      row("s3_decontam", s3), row("s4_quality", s4)).reduce(_ unionByName _)
  }

  /** One stopword table drives q48 AND q143 in both engines — scores and
    * argmax are generated from this seq, so the heuristic can't drift
    * between the doc-level and chunk-level (or Spark and DuckDB) forms.
    */
  private lazy val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** DuckDB-side `s_<lang>` score columns over token list `c`. */
  private def langScoresSql(c: String): String =
    langStops.map { case (l, ws) =>
      s"""round(len(list_filter($c, t -> list_contains([${
        ws.map("'" + _ + "'").mkString(", ")}], t))) / len($c), 6) AS s_$l"""
    }.mkString(",\n                ")

  /** Spark-side `s_<lang>` score expressions over token column `c`. */
  private def langScoresSpark(c: String): Seq[String] =
    langStops.map { case (l, ws) =>
      s"""round(size(filter($c, t -> array_contains(array(${
        ws.map("'" + _ + "'").mkString(", ")}), t))) / size($c), 6) AS s_$l"""
    }

  /** The q48 argmax (ties break toward the earlier language) — identical
    * text in both engines over the `s_<lang>` columns. */
  private lazy val langPredSql: String =
    """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END"""

  /** q143 kernel — chunk-level language-ID consistency. The doc-level
    * prediction is computed once and rides the row through the chunk
    * explode (no join back); chunk scoring is the same generated
    * expression over the 32-token slice; one doc-group aggregate ends
    * the plan. Map-only before the final exchange at any corpus size.
    */
  def langConsistency(docs: DataFrame): DataFrame = {
    val dsc = docs
      .selectExpr("doc_id", "lang", "split(text, ' ') AS toks")
      .selectExpr(Seq("doc_id", "lang", "toks") ++ langScoresSpark("toks"): _*)
      .selectExpr("doc_id", "lang", "toks", s"$langPredSql AS doc_pred")
    val cp = dsc
      .selectExpr("doc_id", "lang", "doc_pred",
        """explode(transform(sequence(0, size(toks) - 1, 32),
           st -> slice(toks, st + 1, 32))) AS ctoks""")
      .selectExpr(Seq("doc_id", "lang", "doc_pred") ++
        langScoresSpark("ctoks"): _*)
      .selectExpr("doc_id", "lang", "doc_pred", s"$langPredSql AS chunk_pred")
    cp.groupBy("doc_id", "lang", "doc_pred")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_pred") === col("doc_pred"), 1L).otherwise(0L))
          .as("n_agree"))
      .selectExpr("doc_id", "lang", "doc_pred", "n_chunks", "n_agree",
        "CAST((n_agree * 1000000) div n_chunks AS BIGINT) AS consistency_micro",
        """CAST(CASE WHEN 10 * n_agree < 8 * n_chunks THEN 1 ELSE 0 END
           AS INT) AS mixed""")
  }

  /** q142 kernel — paragraph-level dedup as a TRANSFORM: every chunk hash
    * keeps exactly its first occurrence (argmin of doc_id·2³² + chunk_id,
    * one aggregate on the hash), and the per-doc rebuild is ONE aggregate
    * whose array_sort is bounded by a document's own chunk count — no
    * corpus sort, no window, no second doc-level join. A fully-duplicated
    * doc keeps zero chunks and reports scrubbed_text = NULL (both engines
    * by the same CASE), which is this operator's exact-dedup drop signal.
    *
    * Shuffle budget (round 19, VERDICT r18 ask #1): the r16–r18 form
    * joined the full text-bearing chunk stream against the DISTINCT-hash
    * keeper table — corpus-sized on both sides, so every unique chunk's
    * text rode an `h` exchange it could never lose on (its only
    * occurrence IS the keeper). Now the keeper table keeps only hashes
    * with freq ≥ 2 (q113's candidate-reduction posture): at every
    * measured scale dup hashes are a few % of distinct hashes, so the
    * table broadcasts and the whole chunk stream flows MAP-ONLY into the
    * per-doc rebuild — the one text-bearing exchange left is the rebuild
    * itself. Past `broadcastDupCap` dup hashes (not reached below ~5 M
    * dup hashes ≈ 250 MB) the kernel switches to the q113 Bloom shape:
    * a membership pre-filter splits the stream, provably-unique chunks
    * (Bloom negative = no false negatives) stay map-only with kept = 1,
    * and only Bloom survivors (true dups + fpp·corpus) shuffle into the
    * exact left join, where a false positive's null keeper marks it
    * kept = 1 — bit-identical output on both paths (TextPipelineSpec
    * pins the forced-Bloom path against the broadcast path).
    *
    * Measured fallback price (round 20, VERDICT r19 ask #4 — forced with
    * `broadcastDupCap = 0` in clean windows,
    * `AB_q142bloom_r20_{sf5,sf10}_{bcast,bloom}.json`): broadcast
    * 2.68 / 3.82 s vs forced Bloom 4.29 / 4.44 s at sf5 / sf10 — a
    * 1.16–1.60x premium covering the Bloom build, the split, and the
    * exact join. The split's two `ch` passes (Bloom-negative and
    * Bloom-positive each recompute tokenChunks) stay a deliberate
    * two-pass: both are map-only parquet re-scans with pushed-down
    * projection, whereas persisting `ch` would cache corpus-sized chunk
    * TEXT — exactly the working set the fallback exists to keep off the
    * executors at the >5 M-dup-hash scales that trigger it.
    */
  def chunkScrub(docs: DataFrame, broadcastDupCap: Long = 5000000L): DataFrame = {
    val spark = docs.sparkSession
    val ch = tokenChunks(docs, window = 32, stride = 32)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"),
        md5(col("chunk_text").cast("binary")).as("h"))
    // keep-first = lexicographic min over (doc_id, chunk_id), packed into
    // one long so the min is a plain LONG aggregate on both engines. The
    // 2^32 stride aliases only past 2^32 chunks/doc ≈ 137 G tokens — far
    // beyond any real document; doc_id stays safe to 2^31 (ADVICE r14
    // widened this from a 10^5 stride that aliased at ~3.2 M tokens/doc).
    // ChunkSpec pins the packing against an explicit struct-min replay.
    // The aggregate's shuffle carries (h, packed) only — Catalyst prunes
    // chunk_text out of it on both paths.
    val packed = col("doc_id") * 4294967296L + col("chunk_id")
    // lazy: the sizing count materializes it
    val dupKeep = Lineage.truncate(ch.groupBy("h")
      .agg(min(col("doc_id") * 4294967296L + col("chunk_id")).as("keeper"),
        count(lit(1)).as("freq"))
      .filter(col("freq") >= 2L).select("h", "keeper"), eager = false)
    val nDup = dupKeep.count()
    val flagged =
      if (nDup <= broadcastDupCap)
        ch.join(broadcast(dupKeep), Seq("h"), "left")
          .withColumn("kept",
            when(col("keeper").isNull || packed === col("keeper"), 1L)
              .otherwise(0L))
      else {
        val maybe = bloomProbe(spark,
          dupKeep.stat.bloomFilter("h", math.max(nDup, 1L), 0.01), col("h"))
        ch.filter(!maybe)
          .withColumn("kept", lit(1L))
          .unionByName(
            ch.filter(maybe)
              .join(dupKeep, Seq("h"), "left")
              .withColumn("kept",
                when(col("keeper").isNull || packed === col("keeper"), 1L)
                  .otherwise(0L)),
            allowMissingColumns = true)
      }
    flagged
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tokens")).as("tok_before"),
        sum(col("n_tokens") * col("kept")).as("tok_after"),
        expr("""array_join(transform(
                  array_sort(collect_list(CASE WHEN kept = 1
                    THEN struct(chunk_id, chunk_text) END)),
                  s -> s.chunk_text), ' ')""").as("joined"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        col("tok_before"), col("tok_after"),
        when(col("n_kept") === 0L, lit(null).cast("string"))
          .otherwise(col("joined")).as("scrubbed_text"))
  }

  /** q138 kernel — CCNet-style paragraph-hash dedup audit. Chunks are the
    * [[tokenChunks]] kernel run non-overlapping (window = stride = 32);
    * each chunk's md5 is the dedup identity. Two-exchange shape: the
    * chunk-hash frequency aggregate (map-side combined) and the
    * freq→chunk hash join — both keyed on the same `h`, so the probe
    * side's shuffle is the one the aggregate already planned (AQE keeps
    * them co-partitioned; at tiny SF it may broadcast the freq table
    * instead, which is strictly cheaper). The per-doc rollup map-side
    * combines on doc_id and the decile histogram is an 11-row aggregate.
    * No window, no sort, no corpus-sized driver traffic.
    */
  def chunkDedupAudit(docs: DataFrame): DataFrame = {
    val ch = tokenChunks(docs, window = 32, stride = 32)
      .select(col("doc_id"), md5(col("chunk_text").cast("binary")).as("h"))
    val fr = ch.groupBy("h").agg(count(lit(1)).as("freq"))
    val pd = ch.join(fr, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("freq") >= 2, 1L).otherwise(0L)).as("n_dup"))
    pd.groupBy(expr("(n_dup * 10) div n_chunks").cast("int").as("dup_decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("sum_chunks"),
        sum(col("n_dup")).as("sum_dup_chunks"))
  }

  /** q139 kernel — signature-vs-truth calibration over q42's candidate
    * pairs. One per-doc projection computes BOTH features in one scan
    * (`graft_minhash16` + `graft_shingles` share the row — no sig⋈shingle
    * join); the candidate pairs join against it twice at candidate scale;
    * matching-lane count and the exact-integer error terms stay in
    * whole-stage codegen; the output exchange is ≤17 rows. All arithmetic
    * is integer (bounds cross-multiplied, micro-units floor-divided), so
    * the oracle comparison is exact by construction.
    */
  def minhashCalibration(corpus: DataFrame): DataFrame = {
    val cand = candidatePairs(corpus)
    val feat = corpus.selectExpr("doc_id",
      "graft_minhash16(text) AS sig", "graft_shingles(text, 3) AS shd")
    val x = feat.select(col("doc_id").as("xid"), col("sig").as("xsig"),
      col("shd").as("xsh"))
    val y = feat.select(col("doc_id").as("yid"), col("sig").as("ysig"),
      col("shd").as("ysh"))
    cand.join(x, col("doc_id1") === col("xid"))
      .join(y, col("doc_id2") === col("yid"))
      .selectExpr(
        """CAST(aggregate(zip_with(xsig, ysig,
             (a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END),
             0, (acc, v) -> acc + v) AS BIGINT) AS m""",
        "CAST(size(array_intersect(xsh, ysh)) AS BIGINT) AS inter_n",
        """CAST(size(xsh) + size(ysh)
           - size(array_intersect(xsh, ysh)) AS BIGINT) AS union_n""")
      .groupBy(col("m").cast("int").as("sig_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(expr("20 * abs(m * union_n - 16 * inter_n)")
          <= expr("112 * union_n"), 1L).otherwise(0L)).as("n_within"),
        min(expr("(inter_n * 1000000) div union_n")).as("min_exact_micro"),
        max(expr("(inter_n * 1000000) div union_n")).as("max_exact_micro"),
        sum(expr("(inter_n * 1000000) div union_n")).as("sum_exact_micro"))
      .selectExpr("sig_matches", "n_pairs", "n_within", "min_exact_micro",
        "max_exact_micro",
        "CAST(sum_exact_micro div n_pairs AS BIGINT) AS mean_exact_micro")
  }
}
