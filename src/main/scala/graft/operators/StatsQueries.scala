package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical / sampling / reshape operator batch (round 3).
  *
  * Design notes shared by the batch:
  *  - Moment statistics (q70) are derived from EXACT integer moment sums:
  *    per-row products are computed in IEEE double (deterministic), scaled
  *    to their true 10⁻⁴-unit INTEGER value (see [[momentDefs]] — the
  *    fixed-point input contract makes ROUND tie-free and exact), summed
  *    as overflow-split longs so the aggregation is order-independent (a
  *    parallel double sum is not), then the closed-form statistics are
  *    evaluated in double with the IDENTICAL expression text on the Spark
  *    and DuckDB sides — same ops in the same order → bit-identical
  *    results. `pow` is deliberately avoided (libm pow may differ across
  *    engines by 1 ulp); only `*`, `/`, `sqrt` (IEEE-exact) appear.
  *  - Sampling (q71) is hash-deterministic (md5 prefix), not rand(): it is
  *    reproducible across engines AND across cluster re-runs, pushes down
  *    to the scan as a plain filter, and needs no coordination — the right
  *    100 TB sampling primitive.
  *  - At 100 TB the moment aggregation is a single scan + 2-phase agg with
  *    ~6 groups of bounded state; the sample is a scan-side filter.
  */
object StatsQueries {

  private def dsum(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(28,4))) AS DOUBLE)"

  /** q75's blocking table: (doc_id, text, tok0, band) with blocks larger
    * than `cap` docs dropped — the [[LlmQueries.BucketCap]] guard applied
    * to the (first-token, length-band) key. The per-block count is a
    * window over the same key the candidate join shuffles on, so the cap
    * adds no extra exchange. Public so EditDedupSpec can plant a
    * hot-first-token corpus.
    */
  def editBlocks(docs: DataFrame, cap: Int = LlmQueries.BucketCap): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        expr("split_part(text, ' ', 1)").as("tok0"),
        expr("n_chars div 16").as("band"))
      .withColumn("block_n",
        count(lit(1)).over(Window.partitionBy(col("tok0"), col("band"))))
      .filter(col("block_n") <= cap)
      .drop("block_n")

  /** q75's candidate pairs (left_id < right_id) from capped blocks, before
    * edit-distance verification — the measurable surface of the cap.
    */
  def editCandidates(docs: DataFrame,
                     cap: Int = LlmQueries.BucketCap): DataFrame = {
    val d = editBlocks(docs, cap)
    val a = d.select(col("doc_id").as("left_id"), col("text").as("lt"),
      col("tok0"), col("band"))
    val b = d.select(col("doc_id").as("right_id"), col("text").as("rt"),
      col("tok0"), col("band"))
    // merge hint: both sides shuffle on the block key with identical child
    // plans → ReusedExchange computes the blocking table once.
    a.hint("merge").join(b, Seq("tok0", "band"))
      .where(col("left_id") < col("right_id"))
  }

  /** Edit-distance near-dup over capped blocks, exact banded levenshtein
    * verify: O(len·k) per pair via the threshold form (returns -1 above
    * the threshold, filtered out).
    */
  def editNearDup(docs: DataFrame,
                  cap: Int = LlmQueries.BucketCap): DataFrame =
    editCandidates(docs, cap)
      .select(col("left_id"), col("right_id"),
        levenshtein(col("lt"), col("rt"), 25).as("edit_dist"))
      .where(col("edit_dist") >= 0)

  /** Exact moment sums as SCALED-INTEGER aggregation (q70).
    *
    * The r13 form summed DECIMAL(28,4) casts of the per-row products;
    * profiled at sf5, Spark's decimal machinery (a BigDecimal allocation
    * per cast plus decimal adds in the sum buffer) cost 4× the
    * arithmetic itself (decimal sums 6.4 s vs double sums 1.6 s for the
    * same scan). The moment values don't need decimal: l_quantity is
    * integral (≤ 50) and l_extendedprice has exactly 2 decimals
    * (≤ ~1.1e5), so every product scaled by 10⁴ is a true INTEGER below
    * 2⁵³ — representable in the double product up to an error ≪ 0.5,
    * which means ROUND lands on the same integer in every engine with no
    * tie to break. Each moment therefore sums as pure LONG arithmetic,
    * split hi/lo at 10⁷ so the ANSI long sums stay overflow-free to
    * ~8×10¹¹ rows per group (≈ 130 TB of lineitem; a 3-way split extends
    * it), and recombines EXACTLY in one DECIMAL(38,0) expression before
    * the single cast to double. The oracle needs no split — DuckDB's
    * SUM(BIGINT) is a 128-bit HUGEINT, cast to double once — and both
    * sides round the identical exact integer to the nearest double.
    * Requires non-negative inputs (div/% signs), which TPC-H guarantees.
    */
  private val momentDefs = Seq(
    "sx" -> "l_quantity",
    "sxx" -> "l_quantity * l_quantity",
    "sxxx" -> "l_quantity * l_quantity * l_quantity",
    "sxxxx" -> "l_quantity * l_quantity * l_quantity * l_quantity",
    "sy" -> "l_extendedprice",
    "syy" -> "l_extendedprice * l_extendedprice",
    "sxy" -> "l_quantity * l_extendedprice")

  private val MomentSplit = 10000000L // 10^7 ≈ sqrt(max scaled product)

  /** DuckDB inner aggregate for q70 — HUGEINT sums, one double cast. */
  private val momentsSql: String =
    momentDefs.map { case (n, e) =>
      s"CAST(SUM(CAST(ROUND(($e) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS $n"
    }.mkString(",\n              ")

  /** Closed-form statistics over the exact sums — pow-free, shared text. */
  private val statFormulas = Seq(
    "l_returnflag",
    "n_rows",
    "round(sx / n_rows, 6) AS mean_qty",
    "round((sxx - sx * sx / n_rows) / n_rows, 6) AS var_pop_qty",
    "round(sqrt((sxx - sx * sx / n_rows) / (n_rows - 1)), 6) AS stddev_samp_qty",
    // population skewness g1 = m3 / m2^1.5, via raw-to-central conversion
    """round((sxxx / n_rows - 3 * (sx / n_rows) * (sxx / n_rows)
        + 2 * (sx / n_rows) * (sx / n_rows) * (sx / n_rows))
       / ((sxx - sx * sx / n_rows) / n_rows
          * sqrt((sxx - sx * sx / n_rows) / n_rows)), 6) AS skew_pop_qty""",
    // population excess kurtosis g2 = m4 / m2^2 - 3
    """round((sxxxx / n_rows - 4 * (sx / n_rows) * (sxxx / n_rows)
        + 6 * (sx / n_rows) * (sx / n_rows) * (sxx / n_rows)
        - 3 * (sx / n_rows) * (sx / n_rows) * (sx / n_rows) * (sx / n_rows))
       / (((sxx - sx * sx / n_rows) / n_rows) * ((sxx - sx * sx / n_rows) / n_rows)) - 3,
       6) AS kurt_pop_qty""",
    """round((sxy - sx * sy / n_rows)
       / (sqrt(sxx - sx * sx / n_rows) * sqrt(syy - sy * sy / n_rows)), 6)
       AS corr_qty_price""",
    "round((sxy - sx * sy / n_rows) / (sxx - sx * sx / n_rows), 6) AS regr_slope",
    """round(sy / n_rows
        - ((sxy - sx * sy / n_rows) / (sxx - sx * sx / n_rows)) * (sx / n_rows), 6)
       AS regr_intercept""")

  /** The builtin's interpolation arithmetic, op for op
    * (Percentile.getPercentile): the WEIGHTED two-term form — the
    * algebraically-equal lo + frac*(hi - lo) differs by an ulp and fails
    * the bit-equality spec.
    */
  private def interpolate[G](nByG: Map[G, Long], ps: Seq[Double],
      picked: Map[(G, Long), Double]): Map[(G, Double), Double] =
    (for { (g, n) <- nByG; p <- ps } yield {
      val pos = p * (n - 1)
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val vLo = picked((g, lower))
      val value =
        if (higher == lower) vLo
        else (higher - pos) * vLo + (pos - lower) * picked((g, higher))
      (g, p) -> value
    }).toMap

  /** One in-flight bracket of a bucket-refinement rank selection: group
    * code `g`'s still-unresolved target ranks, the bucket-index path that
    * pins the bracket's rows (each entry: that level's linear-map bounds
    * and the selected bucket), the bracket's observed value range, the
    * global rank of its first row, and its row count.
    */
  private final case class Bkt(g: Int, ranks: Seq[Long],
    path: List[(Double, Double, Int)], lo: Double, hi: Double,
    base: Long, rows: Long)

  private val RankB = 8192              // bucket fan-out per refinement level
  private val RankCollectCap = 262144L  // max bracket rows fetched to the driver
  private val RankMaxLevels = 8         // refinement budget before the sort fallback

  /** Monotone bucket index of `x` under the linear map [lo, hi] → [0, B):
    * deterministic executor-side double arithmetic, clamped at both ends
    * so totals stay exact, degenerate (lo = hi) ranges collapse to bucket
    * 0. Monotonicity is what makes cumulative bucket counts valid rank
    * offsets: x1 < x2 ⇒ bucket(x1) ≤ bucket(x2), and ties share a bucket
    * by construction, so "rows in buckets below b" is a prefix of the
    * value-sorted order.
    */
  private def bucketOf(x: Column, lo: Column, hi: Column): Column =
    when(hi > lo,
      least(greatest(floor((x - lo) / (hi - lo) * RankB), lit(0.0)),
        lit((RankB - 1).toDouble)).cast("int"))
      .otherwise(lit(0))

  /** EXACT values at arbitrary 0-based global ranks of `x` per group —
    * the ZERO-SHUFFLE selection kernel behind [[exactGroupPercentiles]]
    * and [[robustStats]]. Rounds 9–12 range-partitioned and fully sorted
    * the stream to stream-pick ranks; r13 observes a rank selection needs
    * the values COUNTED, not SORTED: each refinement level is one
    * map-side-combining aggregate over `data` (`groupBy(g → bracket,
    * bucket)` → ≤ brackets×8192 rows on the wire), which narrows every
    * unresolved rank's bracket by 8192× until it fits a driver collect.
    * At 100 TB that replaces the suite's last full-data shuffle+sort
    * (plus its range-sampling pass) with two or three cheap scans of a
    * cached narrow projection; convergence is geometric (a bracket that
    * stays on one bucket re-maps over that bucket's observed [min, max],
    * ≥ 8192× tighter per level) — in the VALUE domain. Double density is
    * logarithmic, so a log-uniform bracket spanning hundreds of decades
    * can shed rows slower than the range shrinks; after [[RankMaxLevels]]
    * levels any still-oversized bracket falls back to a range-partitioned
    * sort of that bracket's rows alone (not the corpus — the path filter
    * precedes the exchange). Three resolutions never fetch a row at
    * all: a bracket whose min = max IS the value; a rank that is the
    * first/last of its bucket reads the bucket's min/max aggregate.
    *
    * `data` must have an integer `gi` group-code column, a double `x`
    * column, and any columns the level-1-only `extra` aggregates
    * reference (they must be additive LongType aggregates, e.g.
    * conditional counts — summed per group across buckets and returned
    * as the second element). The INT group code (round 18 — the group
    * key was a string through r17) is what keeps the cached projection
    * primitive-only and every per-row CASE chain an integer compare:
    * profiled at sf10, the string column rode the cache and every
    * refinement pass burned UTF8String compares in the bracket/group
    * CASE chains — the named mechanism behind q86's repeat sf5→sf10
    * growth (VERDICT r17 ask #1). Callers collect the (driver-bounded)
    * group dimension first and code groups by sorted position. `bounds`
    * must contain each targeted group's x-range (loose bounds are
    * correct, just slower). Ranks must lie in [0, n) per group. Values
    * returned are exact executor-computed doubles.
    */
  private def rankSelect(data: DataFrame,
      targets: Map[Int, Set[Long]],
      bounds: Map[Int, (Double, Double)],
      extra: Seq[Column] = Nil)
      : (Map[(Int, Long), Double], Map[Int, Seq[Long]]) = {
    val s = data.sparkSession
    import s.implicits._
    def pathCond(b: Bkt): Column =
      b.path.map { case (lo, hi, sel) =>
        bucketOf(col("x"), lit(lo), lit(hi)) === sel
      }.reduceOption(_ && _).getOrElse(lit(true))
    var picked = Map.empty[(Int, Long), Double]
    var extras = Map.empty[Int, Seq[Long]]
    var active: Seq[Bkt] = targets.toSeq.sortBy(_._1).collect {
      case (g, ranks) if ranks.nonEmpty =>
        Bkt(g, ranks.toSeq.sorted, Nil, bounds(g)._1, bounds(g)._2, 0L,
          Long.MaxValue)
    }
    val toFetch = scala.collection.mutable.ListBuffer.empty[Bkt]
    var level = 0
    while (active.nonEmpty) {
      level += 1
      if (level > RankMaxLevels) {
        // Convergence fallback (ADVICE r13): linear bucketing narrows the
        // VALUE range 8192× per level, but representable-double density is
        // logarithmic — a log-uniform bracket spanning hundreds of decades
        // sheds only ~log10(8192) decades of rows per level, so a
        // > RankCollectCap bracket can legitimately outlive the level
        // budget. Resolve the stragglers with the r12 shape — a range-
        // partitioned sort — but scoped to the STUCK BRACKET's rows only
        // (the path filter runs before the exchange), not the corpus: the
        // pathological tail pays one bounded shuffle instead of failing,
        // and every normal distribution still never sorts anything.
        active.foreach { bk =>
          val want = bk.ranks.map(_ - bk.base).toSet
          val got = graft.Bounded.collectRdd(
            data.filter(col("gi") === bk.g && pathCond(bk))
              .select(col("x")).sort("x").as[Double].rdd
              .zipWithIndex().filter { case (_, i) => want.contains(i) },
            cap = want.size, what = s"rankSelect fallback ranks (${bk.g})")
            .map { case (v, i) => i -> v }.toMap
          bk.ranks.foreach(r => picked += ((bk.g, r) -> got(r - bk.base)))
        }
        active = Nil
      } else {
      // brackets are pairwise disjoint row sets (siblings split on
      // different bucket indices of a shared path prefix), so the CASE
      // chain assigns each row at most one bracket id
      val vgCol = active.zipWithIndex.foldLeft(lit(-1)) { case (acc, (b, i)) =>
        when(col("gi") === b.g && pathCond(b), lit(i)).otherwise(acc)
      }
      def perVg(f: Bkt => Double): Column =
        active.zipWithIndex.foldLeft(lit(Double.NaN)) { case (acc, (b, i)) =>
          when(col("vg") === i, lit(f(b))).otherwise(acc)
        }
      val aggs = Seq(count(lit(1)).as("c"), min(col("x")).as("mn"),
        max(col("x")).as("mx")) ++ (if (level == 1) extra else Nil)
      val rows = graft.Bounded.collect(
        data.withColumn("vg", vgCol).filter(col("vg") >= 0)
          .withColumn("b", bucketOf(col("x"), perVg(_.lo), perVg(_.hi)))
          .groupBy("vg", "b").agg(aggs.head, aggs.tail: _*),
        cap = active.size * 8192,
        what = s"rankSelect level-$level bucket counts")
      if (level == 1 && extra.nonEmpty)
        extras = rows.groupBy(r => active(r.getInt(0)).g).map { case (g, rs) =>
          g -> extra.indices.map(j => rs.map(_.getLong(5 + j)).sum).toSeq
        }
      val nextActive = scala.collection.mutable.ListBuffer.empty[Bkt]
      active.zipWithIndex.foreach { case (bk, i) =>
        val bs = rows.filter(_.getInt(0) == i).sortBy(_.getInt(1))
          .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        val cum = bs.map(_._2).scanLeft(0L)(_ + _)
        // resolve each rank or cluster the leftovers by holder bucket
        val pend = scala.collection.mutable.Map.empty[Int, List[Long]]
        bk.ranks.foreach { r =>
          val lr = r - bk.base
          val i0 = bs.indices.find(j => cum(j + 1) > lr).getOrElse(bs.length - 1)
          val (_, _, bmin, bmax) = bs(i0)
          if (bmin == bmax) picked += ((bk.g, r) -> bmin)
          else if (lr == cum(i0)) picked += ((bk.g, r) -> bmin)
          else if (lr == cum(i0 + 1) - 1) picked += ((bk.g, r) -> bmax)
          else pend(i0) = r :: pend.getOrElse(i0, Nil)
        }
        pend.toSeq.sortBy(_._1).foreach { case (i0, rs) =>
          val (bIdx, cnt, bmin, bmax) = bs(i0)
          val child = Bkt(bk.g, rs.sorted, bk.path :+ ((bk.lo, bk.hi, bIdx)),
            bmin, bmax, bk.base + cum(i0), cnt)
          if (cnt <= RankCollectCap) toFetch += child else nextActive += child
        }
      }
      active = nextActive.toList
      }
    }
    if (toFetch.nonEmpty) {
      // one fetch job for every collect-sized bracket (depths may
      // differ; the literal bucket paths stay pairwise disjoint)
      val fs = toFetch.toList
      val vgCol = fs.zipWithIndex.foldLeft(lit(-1)) { case (acc, (b, i)) =>
        when(col("gi") === b.g && pathCond(b), lit(i)).otherwise(acc)
      }
      val got = graft.Bounded.collect(
        data.withColumn("vg", vgCol).filter(col("vg") >= 0)
          .select(col("vg"), col("x")).as[(Int, Double)],
        cap = math.min(fs.map(_.rows).sum, Int.MaxValue - 1L).toInt,
        what = s"rankSelect collect-sized bracket fetch (${fs.size} brackets)")
        .groupBy(_._1)
      fs.zipWithIndex.foreach { case (bk, i) =>
        val ds = got.getOrElse(i, Array.empty[(Int, Double)]).map(_._2).sorted
        require(ds.length == bk.rows,
          s"bracket fetch mismatch for ${bk.g}: got ${ds.length}, want ${bk.rows}")
        bk.ranks.foreach(r => picked += ((bk.g, r) -> ds((r - bk.base).toInt)))
      }
    }
    (picked, extras)
  }

  /** EXACT per-group interpolated percentiles WITHOUT per-group value
    * buffering and WITHOUT shuffling the stream: one metadata aggregate
    * (count/min/max per group) over a cached narrow projection, then
    * [[rankSelect]] bucket refinement for the interpolation ranks.
    * Identical numbers to `expr("percentile(v, p)")`
    * (ExactPercentileSpec pins bit-equality against the builtin), but
    * where the builtin buffers EVERY value of a group on one reducer —
    * at 100 TB with 3 groups, billions of doubles on 3 tasks — this
    * never moves the data at all: every pass is a map-side-combining
    * aggregate or a bounded driver fetch. Ties are safe: equal values
    * share a bucket, and every rank in a tie run maps to the same value.
    * This regime (few groups × many rows) is exactly where buffering
    * dies; for the opposite regime (millions of tiny groups) the builtin
    * is fine and this driver-side bracket table would not be.
    *
    * Returns ((group, p) -> value). `df` must have the group and value
    * columns named by the args; value must be numeric (cast to double,
    * matching the builtin's DoubleType arithmetic). NULL values are
    * dropped before ranking — the builtin `percentile` silently skips
    * them too. One DIVERGENCE follows from that filter plus the
    * non-nullable Double in the returned map: a group whose values are
    * ALL null has no rankable stream and is absent from the result,
    * where the builtin would emit the group with a NULL percentile. A
    * caller that must preserve all-null groups has to pre-split them
    * (`count(valueCol)` = 0) and union the NULL rows back itself.
    *
    * SINGLE-SNAPSHOT contract (ADVICE r18): the group meta (n, min, max)
    * comes from a raw scan of `df` and the refinement passes read a
    * separately-built cached projection — two reads of the source. On an
    * immutable source (parquet fixtures, any snapshot-isolated table)
    * they cannot diverge; on a source mutating between the two reads a
    * recorded rank can exceed the rows actually cached (missing picked
    * entry → NoSuchElementException in interpolate) or a new group can
    * arrive uncoded (gi = -1, silently excluded). Callers over
    * non-static sources must materialize a snapshot first.
    */
  def exactGroupPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): Map[(String, Double), Double] = {
    val gv = groupedValues(df, groupCol, valueCol)
    try {
      val (picked, _) = rankSelect(gv.base, gv.targets(ps), gv.bounds)
      interpolate(gv.nByGi, ps, picked)
        .map { case ((gi, p), v) => (gv.groups(gi), p) -> v }
    } finally gv.base.unpersist()
  }

  /** The refinement setup [[exactGroupPercentiles]] and [[robustStats]]
    * share, over the non-null values of `valueCol` as doubles: `groups`
    * in sorted order, each group's row count and value bounds from ONE
    * aggregate over the raw scan (keyed by group index), and `base`, a
    * persisted primitive-only (gi, x) cache where gi is the group's
    * index in `groups` (see rankSelect's scaladoc for the measured
    * string-column cost). The caller unpersists `base`.
    */
  private final class GroupedValues(val groups: IndexedSeq[String],
      val nByGi: Map[Int, Long], val bounds: Map[Int, (Double, Double)],
      val base: DataFrame) {
    /** Per group code, the two ranks each quantile in `ps` interpolates
      * between: floor(p·(n−1)) and the next, clamped to the last row.
      */
    def targets(ps: Seq[Double]): Map[Int, Set[Long]] = nByGi.map { case (i, rows) =>
      i -> ps.flatMap { p =>
        val k = math.floor(p * (rows - 1)).toLong
        Seq(k, math.min(k + 1, rows - 1))
      }.toSet
    }
  }

  private def groupedValues(df: DataFrame, groupCol: String,
      valueCol: String): GroupedValues = {
    val src = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("x"))
    // group meta comes from the RAW scan: the primitive group codes the
    // refinement cache carries aren't known until the group dimension is,
    // and a pushed-down two-column parquet aggregate costs about what the
    // old cache-build-plus-aggregate pass did without ever caching the
    // string column
    val meta = graft.Bounded.collect(
      src.groupBy("g")
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("mn"), max(col("x")).as("mx")),
      cap = 4096, what = s"per-group meta of $groupCol (bounded class dim)")
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val groups = meta.keys.toIndexedSeq.sorted
    val giCol = groups.zipWithIndex.foldLeft(lit(-1)) { case (acc, (g, i)) =>
      when(col("g") === g, lit(i)).otherwise(acc) }
    val gis = groups.indices
    new GroupedValues(groups, gis.map(i => i -> meta(groups(i))._1).toMap,
      gis.map(i => i -> ((meta(groups(i))._2, meta(groups(i))._3))).toMap,
      src.select(giCol.as("gi"), col("x")).persist())
  }

  /** q86's FUSED robust-stats kernel: median/IQR and MAD all from
    * [[rankSelect]] bucket refinement over ONE cached narrow projection —
    * the whole query shuffles NOTHING corpus-sized (the r12 form paid a
    * full range partition + sort for the value stream and a second one
    * for the deviation stream). The Tukey-fence outlier counts ride the
    * deviation pass's level-1 scan as a fused extra aggregate, so the
    * fences never cost a pass of their own. The MAD genuinely depends on
    * the median, so the deviation selection is sequential after the
    * value selection; the deviation VALUES the interpolation consumes
    * are exact executor-computed doubles (`abs(v − rounded median)`,
    * the identical expression the r12 deviation stream projected), and
    * all rounding runs through Spark `round` expressions — results are
    * bit-identical (oracle unchanged, ExactPercentileSpec pins the
    * builtin-formulation equality).
    *
    * Returns (group, median_price, iqr, mad, n_outliers) as a
    * driver-local DataFrame — every heavy pass has already run by the
    * time this returns, and the caller's action on the result costs
    * nothing. Same SINGLE-SNAPSHOT contract as
    * [[exactGroupPercentiles]] (ADVICE r18): meta scan and refinement
    * cache are two reads of `df` — immutable/snapshot sources only.
    */
  def robustStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ps = Seq(0.25, 0.5, 0.75)
    // a primitive-only (int, double) cache — the r17 form cached the
    // string group column and paid UTF8String CASE-chain compares in
    // every refinement pass (the A/B for this change is AB_q86_r18_*.json)
    val gv = groupedValues(df, groupCol, valueCol)
    val (groups, base, nByGi) = (gv.groups, gv.base, gv.nByGi)
    val dev = try {
      val gidx = groups.indices
      val (vPicked, _) = rankSelect(base, gv.targets(ps), gv.bounds)
      val pcts = interpolate(nByGi, ps, vPicked)
      // median/fences rounded through Spark's own `round` (a local 3-row
      // plan — constant work) so the deviation expression below subtracts
      // doubles bit-identical to the r12 broadcast-join form
      val fences = graft.Bounded.collect(
        gidx.map(i => (i, pcts((i, 0.5)), pcts((i, 0.25)), pcts((i, 0.75))))
          .toDF("gi", "m_raw", "p25_raw", "p75_raw")
          .select(col("gi"), round(col("m_raw"), 6).as("med"),
            round(col("p25_raw"), 6).as("p25"), round(col("p75_raw"), 6).as("p75")),
        cap = groups.size, what = "robustStats rounded fences (local frame)")
        .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      // per-group-code CASE chains (groups are driver-bounded, exactly
      // like the bracket tables): no broadcast join, every pass stays a
      // single-stage aggregate over the cache, and the compares are
      // integer
      def perG(f: Int => Double): Column =
        gidx.foldLeft(lit(Double.NaN)) { (acc, i) =>
          when(col("gi") === i, lit(f(i))).otherwise(acc)
        }
      val dData = base.select(col("gi"),
        abs(col("x") - perG(i => fences(i)._1)).as("x"), col("x").as("v"))
      // loose-but-correct deviation bounds from the value extremes: the
      // max deviation is at a value extreme (|v − med| is V-shaped)
      val dBounds = gidx.map { i =>
        val med = fences(i)._1
        val (mn, mx) = gv.bounds(i)
        i -> ((0.0, math.max(math.abs(mn - med), math.abs(mx - med))))
      }.toMap
      val p25c = perG(i => fences(i)._2)
      val p75c = perG(i => fences(i)._3)
      val isOut = col("v") > p75c + (p75c - p25c) * 1.5 ||
        col("v") < p25c - (p75c - p25c) * 1.5
      val (dPicked, extras) = rankSelect(dData, gv.targets(Seq(0.5)), dBounds,
        Seq(sum(when(isOut, 1L).otherwise(0L)).as("o")))
      val madRaw = interpolate(nByGi, Seq(0.5), dPicked)
      gidx.map(i => (groups(i), pcts((i, 0.5)), pcts((i, 0.25)),
        pcts((i, 0.75)), madRaw((i, 0.5)),
        extras.getOrElse(i, Seq(0L)).head))
    } finally base.unpersist()
    dev.toDF(groupCol, "m_raw", "p25_raw", "p75_raw", "mad_raw", "n_outliers")
      .select(col(groupCol), round(col("m_raw"), 6).as("median_price"),
        round(round(col("p75_raw"), 6) - round(col("p25_raw"), 6), 6).as("iqr"),
        round(col("mad_raw"), 6).as("mad"), col("n_outliers"))
  }

  /** Scale-safe robust-stats DEFAULT path: approx_percentile only — a
    * mergeable t-digest sketch with bounded per-group state. q86's exact
    * percentiles run on [[exactGroupPercentiles]] (range-partitioned rank
    * selection, no per-group buffering) since round 9, so the sketch path
    * here is about sub-percent state, not survival. Public so
    * PlanAuditSpec can assert the plan carries no exact Percentile
    * buffering.
    */
  def approxRobust(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      // accuracy 2500 → rank error ≤ n/2500, a 50× margin under the
      // audit's eps = 0.02; 10000 paid ~4× the summary-compress work for
      // margin the audit can't observe (same measured tradeoff as q74)
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 2500)")
        .as("aq"))
      .select(col("l_returnflag"), col("aq")(0).as("ap25"),
        col("aq")(1).as("ap50"), col("aq")(2).as("ap75"))

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- Q70
    // Moment statistics (mean/variance/stddev/skewness/kurtosis/corr/regr)
    // per return flag. See object scaladoc for the exactness argument.
    Q("q70_stats_moments", Some(s"""
      SELECT ${statFormulas.mkString(",\n        ")}
      FROM (SELECT l_returnflag, COUNT(*) AS n_rows, $momentsSql
            FROM lineitem GROUP BY l_returnflag) t""")) { (s, dir) =>
      val scaled = momentDefs.map { case (n, e) =>
        expr(s"CAST(ROUND(($e) * 10000) AS BIGINT)").as(s"v_$n") }
      val aggs = momentDefs.flatMap { case (n, _) => Seq(
        expr(s"SUM(v_$n div $MomentSplit)").as(s"${n}_hi"),
        expr(s"SUM(v_$n % $MomentSplit)").as(s"${n}_lo")) }
      val sums = momentDefs.map { case (n, _) =>
        expr(s"CAST(CAST(${n}_hi AS DECIMAL(38,0)) * $MomentSplit + ${n}_lo" +
          s" AS DOUBLE) / 10000.0D").as(n) }
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag") +: scaled: _*)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(col("l_returnflag") +: col("n_rows") +: sums: _*)
        .selectExpr(statFormulas: _*)
    },

    // ---------------------------------------------------------------- Q71
    // Deterministic hash sampling: a ~25% sample selected by md5 prefix of
    // the key (identical strings hash identically in every engine), then an
    // aggregate over the sample. No rand(), no driver coordination; the
    // predicate is a scan-side filter at any scale.
    Q("q71_hash_sample", Some(s"""
      SELECT o_orderpriority,
        COUNT(*) AS n_sampled,
        CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_price
      FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      GROUP BY o_orderpriority""")) { (s, dir) =>
      Tables.t(s, dir, "orders")
        .where(expr("substr(md5(CAST(o_orderkey AS STRING)), 1, 1)")
          .isin("0", "1", "2", "3"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_sampled"),
          round(graft.plans.FixedPointSum.exact(col("o_totalprice"), 2), 2)
            .cast("double").as("sum_price"))
    },

    // ---------------------------------------------------------------- Q72
    // UNPIVOT / melt: wide per-flag aggregate reshaped to (flag, metric,
    // value) long form — the standard feature-table → training-example
    // reshape. Spark `Dataset.unpivot` ↔ DuckDB UNPIVOT.
    Q("q72_unpivot", Some("""
      WITH w AS (
        SELECT l_returnflag,
          CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,2))), 2) AS DOUBLE) AS qty,
          CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,2))), 2) AS DOUBLE) AS price,
          CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(28,2))), 2) AS DOUBLE) AS disc
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, metric, value
      FROM w UNPIVOT (value FOR metric IN (qty, price, disc))""")) { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg( // fixed-point long kernel, == the oracle's DECIMAL(28,2) sums
          round(graft.plans.FixedPointSum.exact(col("l_quantity"), 2), 2)
            .cast("double").as("qty"),
          round(graft.plans.FixedPointSum.exact(col("l_extendedprice"), 2), 2)
            .cast("double").as("price"),
          round(graft.plans.FixedPointSum.exact(col("l_discount"), 2), 2)
            .cast("double").as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "metric", "value")
    },

    // ---------------------------------------------------------------- Q73
    // LATERAL correlated subquery: top-2 orders per order priority by total
    // price (ties broken by orderkey). The lateral per-group limit is the
    // relational form of "per-key top-k fetch"; Spark decorrelates it into
    // a ranked window, so there is no per-group re-scan at scale.
    Q("q73_lateral_topn", Some("""
      SELECT p.o_orderpriority, o.o_orderkey, o.o_totalprice
      FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM orders
                 WHERE o_orderpriority = p.o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) o""")) { (s, dir) =>
      Tables.t(s, dir, "orders").createOrReplaceTempView("orders_q73")
      s.sql("""
        SELECT p.o_orderpriority, o.o_orderkey, o.o_totalprice
        FROM (SELECT DISTINCT o_orderpriority FROM orders_q73) p,
          LATERAL (SELECT o_orderkey, o_totalprice
                   FROM orders_q73
                   WHERE o_orderpriority = p.o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
                   LIMIT 2) o""")
    },

    // ---------------------------------------------------------------- Q74
    // Approximate aggregates — the 100 TB scale path for distinct counts
    // (HyperLogLog++) and quantiles (approx_percentile): single pass,
    // bounded sketch state, mergeable across partitions. Sketch estimates
    // are not cross-engine reproducible, so the oracle checks the CONTRACT
    // instead of the bits: Spark emits the exact distinct counts plus
    // booleans "estimate within its error bound", DuckDB emits the same
    // exacts with literal TRUEs — a hash mismatch means a sketch broke its
    // guarantee. The quantile check verifies RANK error (the bound
    // approx_percentile actually promises: the fraction of values ≤ the
    // estimate must sit within eps of the target quantile) via one plain
    // conditional-count aggregate — deliberately NOT a value comparison
    // against exact `percentile`, which would buffer every group value on
    // the final aggregator (the q86 scale caveat) and cost 4× the whole
    // query (measured 3.5 s vs 0.8 s at sf0.1). All three passes here are
    // streaming hash aggregates with bounded state.
    // NOTE: the sketches stay in their OWN aggregate. Mixing an exact
    // count_distinct into the same agg plans an Expand + a partial
    // aggregate keyed by (group, distinct-key), which rebuilds/merges the
    // HLL and t-digest sketches across ~n_distinct intermediate groups —
    // measured 20× slower at sf0.1. The exact side is a separate 3-row
    // aggregate joined back on the group key.
    // r13 rework: the sketch aggregate previously appeared TWICE in the
    // final plan (broadcast into the rank audit AND joined into the
    // result — no exchange reuse across the different projections), so
    // the t-digest/HLL build over the whole fact table ran twice; and the
    // exact-distinct pass and the rank audit each scanned lineitem again
    // (4 corpus-sized passes total). Now: the 3-row sketch result is
    // collected ONCE (quantile estimates become per-flag literals, the
    // robustStats CASE-chain idiom), and the exact distinct + rank audit
    // FUSE into one two-level aggregation — level 1 groups by
    // (flag, orderkey) carrying partial row/threshold counts (map-side
    // combine shrinks 30 M rows to ~n_distinct before the only shuffle),
    // level 2 counts the groups (= exact distinct) and sums the partials.
    // Two lineitem scans total, same numbers.
    Q("q74_approx_agg", Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_orderkey) AS exact_orders,
        TRUE AS hll_ok, TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
      FROM lineitem GROUP BY l_returnflag""")) { (s, dir) =>
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val skRows = li.groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("est_orders"),
          // accuracy 2500 → rank error ≤ n/2500, still a 50× margin under
          // the audit's eps = 0.02 (the default 10000 pays ~4× the
          // summary-compress work for margin the audit can't observe)
          expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 2500)").as("aq"))
      val skRows2 = graft.Bounded.collect(skRows, cap = 64,
        what = "q74 per-returnflag sketch row")
        .map(r => (r.getString(0), r.getLong(1),
          r.getSeq[Double](2)(0), r.getSeq[Double](2)(1), r.getSeq[Double](2)(2)))
      val flags = skRows2.map(_._1).toSeq.sorted
      val aq = skRows2.map(r => r._1 -> ((r._3, r._4, r._5))).toMap
      def perF(f: String => Double): Column =
        flags.foldLeft(lit(Double.NaN)) { (acc, g) =>
          when(col("l_returnflag") === g, lit(f(g))).otherwise(acc)
        }
      val fused = li
        .groupBy(col("l_returnflag"), col("l_orderkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("l_extendedprice") <= perF(aq(_)._1), 1L).otherwise(0L)).as("c25p"),
          sum(when(col("l_extendedprice") <= perF(aq(_)._2), 1L).otherwise(0L)).as("c50p"),
          sum(when(col("l_extendedprice") <= perF(aq(_)._3), 1L).otherwise(0L)).as("c75p"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("exact_orders"), sum(col("cnt")).as("n"),
          sum(col("c25p")).as("c25"), sum(col("c50p")).as("c50"),
          sum(col("c75p")).as("c75"))
      val est = skRows2.map(r => (r._1, r._2)).toSeq.toDF("l_returnflag", "est_orders")
      fused.join(broadcast(est), "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("est_orders") - col("exact_orders")) /
            col("exact_orders") <= 0.05).as("hll_ok"),
          (abs(col("c25") / col("n") - 0.25) <= 0.02).as("p25_ok"),
          (abs(col("c50") / col("n") - 0.50) <= 0.02).as("p50_ok"),
          (abs(col("c75") / col("n") - 0.75) <= 0.02).as("p75_ok"))
    },

    // ---------------------------------------------------------------- Q75
    // Edit-distance near-dup: candidate pairs from a cheap blocking key
    // (first token + length band) — never all-pairs — verified with exact
    // levenshtein ≤ 25. Same candidate recall tradeoff as banded LSH: a
    // pair split across blocks is unseen, which both engines replicate
    // exactly. Blocks over [[LlmQueries.BucketCap]] docs are DROPPED, same
    // guard as every LSH-family generator: a natural-language corpus
    // concentrates first tokens ("The …"), and an uncapped hot block is a
    // quadratic self-join waiting for scale (this was the suite's last
    // uncapped candidate generator). At 100 TB the block key is the
    // shuffle key; with the cap every per-block self-join is ≤ cap² pairs,
    // so the stage is skew-safe by construction. Both engines apply the
    // identical cap, so the oracle stays bit-exact.
    Q("q75_edit_neardup", Some(s"""
      WITH blk AS (
        SELECT doc_id, text, split_part(text, ' ', 1) AS tok0,
               n_chars // 16 AS band
        FROM documents),
      capped AS (
        SELECT doc_id, text, tok0, band FROM (
          SELECT doc_id, text, tok0, band,
            COUNT(*) OVER (PARTITION BY tok0, band) AS block_n
          FROM blk) cb
        WHERE block_n <= ${LlmQueries.BucketCap})
      SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        levenshtein(a.text, b.text) AS edit_dist
      FROM capped a JOIN capped b
        ON a.tok0 = b.tok0 AND a.band = b.band AND a.doc_id < b.doc_id
      WHERE levenshtein(a.text, b.text) <= 25""")) { (s, dir) =>
      editNearDup(Tables.t(s, dir, "documents"))
    },

    // ---------------------------------------------------------------- Q76
    // Time-series gap-fill: dense (day × event_type) spine via a generated
    // date series cross-joined with the observed dimension values, left
    // join of the daily aggregate, missing days zero-filled. The spine is
    // generated, not scanned — at scale the big side is only the aggregate.
    Q("q76_gapfill", Some("""
      SELECT CAST(d.day AS DATE) AS day, t.event_type,
        COALESCE(c.cnt, 0) AS cnt
      FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) d(day)
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2) c
        ON c.day = CAST(d.day AS DATE) AND c.event_type = t.event_type""")) { (s, dir) =>
      val events = Tables.t(s, dir, "events")
      val daily = events
        .select(expr(s"CAST(timestamp_micros(${Tables.tsUsSql(events)}) AS DATE)").as("day"),
          col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      val spine = s.range(1)
        .select(explode(expr(
          "sequence(DATE '2024-01-01', DATE '2024-01-30', interval 1 day)")).as("day"))
        .crossJoin(events.select("event_type").distinct())
      spine.join(daily, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
    },

    // ---------------------------------------------------------------- Q81
    // Time-RANGE window frame: trailing 7-day count/sum per user ordered by
    // event time — a RANGE (value-based) frame, not a ROWS frame, so peers
    // at the same timestamp aggregate identically regardless of physical
    // order. The decimal window sum keeps the trailing total exact.
    Q("q81_range_window", Some("""
      SELECT event_id,
        COUNT(*) OVER w AS cnt_7d,
        CAST(ROUND(SUM(CAST(value AS DECIMAL(28,2))) OVER w, 2) AS DOUBLE) AS sum_7d
      FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""")) { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      ev.selectExpr("event_id", "user_id",
          s"(${Tables.tsUsSql(ev)}) div 1000000 AS sec", "value")
        .createOrReplaceTempView("events_q81")
      s.sql("""
        SELECT event_id,
          COUNT(*) OVER w AS cnt_7d,
          CAST(ROUND(SUM(CAST(value AS DECIMAL(28,2))) OVER w, 2) AS DOUBLE) AS sum_7d
        FROM events_q81
        WINDOW w AS (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""")
    },

    // ---------------------------------------------------------------- Q82
    // Null semantics end-to-end: NULLIF-made null group, COUNT(*) vs
    // COUNT(col) null skipping, null-safe equality (Spark `<=>` ↔ DuckDB
    // IS NOT DISTINCT FROM), and a null-safe JOIN where the NULL key row
    // actually matches a NULL dim row (a plain equi-join would drop it).
    Q("q82_null_semantics", Some("""
      WITH t AS (SELECT NULLIF(CAST(o_orderkey % 5 AS INT), 0) AS g FROM orders),
      agg AS (
        SELECT g, COUNT(*) AS n_rows, COUNT(g) AS n_nonnull,
          CAST(SUM(CASE WHEN g IS NOT DISTINCT FROM 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS nsafe_eq3
        FROM t GROUP BY g),
      dim AS (SELECT * FROM (VALUES (CAST(NULL AS INT)), (1), (2)) d(v))
      SELECT agg.g, agg.n_rows, agg.n_nonnull, agg.nsafe_eq3,
        dim.v IS NOT DISTINCT FROM agg.g AS matched
      FROM agg LEFT JOIN dim ON agg.g IS NOT DISTINCT FROM dim.v""")) { (s, dir) =>
      Tables.t(s, dir, "orders")
        .selectExpr("NULLIF(CAST(o_orderkey % 5 AS INT), 0) AS g")
        .createOrReplaceTempView("t_q82")
      s.sql("""
        WITH agg AS (
          SELECT g, COUNT(*) AS n_rows, COUNT(g) AS n_nonnull,
            CAST(SUM(CASE WHEN g <=> 3 THEN 1 ELSE 0 END) AS BIGINT) AS nsafe_eq3
          FROM t_q82 GROUP BY g),
        dim AS (SELECT * FROM VALUES (CAST(NULL AS INT)), (1), (2) AS d(v))
        SELECT agg.g, agg.n_rows, agg.n_nonnull, agg.nsafe_eq3,
          dim.v <=> agg.g AS matched
        FROM agg LEFT JOIN dim ON agg.g <=> dim.v""")
    },

    // ---------------------------------------------------------------- Q85
    // Stratified sampling with per-stratum rates — the data-mixing
    // primitive of a training pipeline (upsample rare strata, downsample
    // dominant ones). Rates are hex-prefix thresholds on md5(key):
    // deterministic, engine-independent, scan-side. URGENT orders keep
    // ~50% ('0'–'7'), everything else ~12.5% ('0'–'1').
    Q("q85_stratified_sample", Some("""
      SELECT o_orderpriority, COUNT(*) AS n_sampled,
        CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_price
      FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <=
        CASE WHEN o_orderpriority = '1-URGENT' THEN '7' ELSE '1' END
      GROUP BY o_orderpriority""")) { (s, dir) =>
      Tables.t(s, dir, "orders")
        .where(expr("substr(md5(CAST(o_orderkey AS STRING)), 1, 1)") <=
          when(col("o_orderpriority") === "1-URGENT", "7").otherwise("1"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_sampled"),
          round(graft.plans.FixedPointSum.exact(col("o_totalprice"), 2), 2)
            .cast("double").as("sum_price"))
    },

    // ---------------------------------------------------------------- Q86
    // Robust statistics: median, MAD (median absolute deviation), IQR, and
    // Tukey-fence outlier counts per return flag. Two passes over the
    // group (median, then |x−median|) — both exact interpolated
    // percentiles (`percentile` ≡ `quantile_cont`, the q58-verified
    // parity), joined back on the group key. At scale: two shuffles on a
    // 3-value key, each a two-phase percentile aggregation.
    Q("q86_robust_stats", Some("""
      WITH med AS (
        SELECT l_returnflag,
          round(quantile_cont(l_extendedprice, 0.5), 6)  AS median_price,
          round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
          round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        FROM lineitem GROUP BY l_returnflag)
      SELECT m.l_returnflag, m.median_price,
        round(m.p75 - m.p25, 6) AS iqr,
        round(quantile_cont(abs(l.l_extendedprice - m.median_price), 0.5), 6) AS mad,
        CAST(SUM(CASE WHEN l.l_extendedprice > m.p75 + 1.5 * (m.p75 - m.p25)
                        OR l.l_extendedprice < m.p25 - 1.5 * (m.p75 - m.p25)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      GROUP BY m.l_returnflag, m.median_price, m.p25, m.p75""")) { (s, dir) =>
      // since round 9 the exact quantiles come from the range-partitioned
      // selection pass instead of the builtin `percentile` aggregate —
      // same numbers (spec-pinned bit-equal), but no reducer ever buffers
      // a whole group; round 11 fused the value pass, the deviation pass,
      // and the fence counts into [[robustStats]] (one lineitem scan, 4
      // bounded collects)
      robustStats(Tables.t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
    },

    // ---------------------------------------------------------------- Q88
    // Robust stats, SCALE-SAFE variant: the [[approxRobust]] sketch path is
    // the default, audited with the same RANK-error pattern as q74 — one
    // conditional-count aggregate checks each estimate's rank sits within
    // eps of its target quantile, so the whole query (sketch + audit)
    // plans ZERO exact-Percentile buffering (PlanAuditSpec asserts it).
    // q86 remains the exact cross-check form for bit-exact robust stats.
    // DuckDB emits the group sizes plus literal TRUEs; a hash mismatch
    // means the t-digest left its rank bound (accuracy 10000 → rank error
    // ≤ n/10000, a 200× margin under eps = 0.02).
    Q("q88_approx_robust", Some("""
      SELECT l_returnflag, COUNT(*) AS n_rows,
        TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
      FROM lineitem GROUP BY l_returnflag""")) { (s, dir) =>
      val ap = approxRobust(s, dir)
      Tables.t(s, dir, "lineitem")
        .join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_extendedprice") <= col("ap25"), 1L).otherwise(0L)).as("c25"),
          sum(when(col("l_extendedprice") <= col("ap50"), 1L).otherwise(0L)).as("c50"),
          sum(when(col("l_extendedprice") <= col("ap75"), 1L).otherwise(0L)).as("c75"))
        .select(col("l_returnflag"), col("n_rows"),
          (abs(col("c25") / col("n_rows") - 0.25) <= 0.02).as("p25_ok"),
          (abs(col("c50") / col("n_rows") - 0.50) <= 0.02).as("p50_ok"),
          (abs(col("c75") / col("n_rows") - 0.75) <= 0.02).as("p75_ok"))
    }
  )
}
