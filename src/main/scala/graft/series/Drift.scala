package graft.series

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Sketches

/** Distribution-drift scoring (SURVEY.md §2.9 T10): PSI and two-sample KS
  * between a baseline and a current slice, per series key or global.
  *
  * The reference scores drift per-point with rolling z / residual outliers;
  * the north star adds PSI/KS thresholds over the same bucketed series.
  * Exact variants below are pure DataFrame ops (windows/group-bys keyed on
  * the series key — co-partitioned, no extra shuffles); the sketch variant
  * rides the mergeable t-digests so a 100 TB baseline never gets rescanned.
  */
object Drift {

  // PSI's bin count and probability floor; `psi`/`psiFromCensus` take them
  // as defaults and `psiOf` uses them as they are
  private val DefaultBins = 10
  private val DefaultEps = 1e-4

  /** PSI = Σ (p_i - q_i) · ln(p_i / q_i) over equal-frequency bins derived
    * from the baseline side. Input: one DataFrame with `sideCol` ∈
    * {'baseline','current'}; output: one row per key with psi.
    *
    * Bin edges are the baseline's exact per-key quantiles (interior edges
    * of `bins` equal-frequency buckets); binning is a lambda over the tiny
    * edges array (codegen'd, no UDF). Distributions are epsilon-clamped
    * (1e-4) like standard PSI practice so empty bins don't blow up.
    */
  /** Shared per-(key, value) side census: baseline/current counts per
    * DISTINCT value. Both [[psi]] and [[ks]] derive from this ONE
    * map-side-combined aggregation, so when a caller evaluates both over
    * the same input (DistributionDrift) the identical census Exchange
    * subtree is deduplicated by ReuseExchange and the raw rows are scanned
    * once (guide §2.3 "aggregate before you shuffle" — everything
    * downstream runs on the distinct-value census, not rows).
    */
  def sideCensus(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String]): DataFrame =
    df.groupBy((keyCols.map(col) :+ col(valueCol).as("__ksv")): _*)
      .agg(sum((col(sideCol) === "baseline").cast("long")).as("__cb"),
        sum((col(sideCol) === "current").cast("long")).as("__cc"))

  def psi(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String], bins: Int = DefaultBins,
      eps: Double = DefaultEps): DataFrame =
    psiFromCensus(sideCensus(df, valueCol, sideCol, keyCols), keyCols,
      bins, eps)

  /** PSI over a pre-built [[sideCensus]] — callers that evaluate PSI and
    * KS as SEPARATE actions (DistributionDrift's two collects) persist
    * the census once instead of rescanning both sides per action.
    */
  def psiFromCensus(census: DataFrame, keyCols: Seq[String],
      bins: Int = DefaultBins, eps: Double = DefaultEps): DataFrame = {
    val key = keyCols.map(col)
    val qs = (1 until bins).map(i => i.toDouble / bins)
    // exact WEIGHTED percentile over the census ≡ percentile over the raw
    // baseline rows (the Percentile aggregate accumulates a value→count
    // map internally either way; integer frequencies keep it exact).
    // Column API, not SQL text: a non-identifier column name must stay a
    // column reference rather than re-parse as an expression
    val edges = census.where(col("__cb") > 0).groupBy(key: _*).agg(
      percentile(col("__ksv"), array(qs.map(lit): _*), col("__cb")).as("edges"))
    // bin = #edges strictly below the value. The `size(filter(edges, e =>
    // v > e))` form is a HigherOrderFunction — interpreted per row per
    // edge; `bins` is statically known here, so the identical count is a
    // codegen'd when-chain over element_at (null parity: null edges →
    // null bin, as size(filter(null)) was; null value → every term 0 →
    // bin 0, as the all-dropped filter was).
    val binOf = when(col("edges").isNotNull,
      (1 until bins).map(i =>
        when(col("__ksv") > element_at(col("edges"), i), 1).otherwise(0))
        .reduce(_ + _))
    val counts = census.join(edges, keyCols)
      .withColumn("bin", binOf)
      .groupBy((key :+ col("bin")): _*).agg(
        sum(col("__cb")).as("n_base"),
        sum(col("__cc")).as("n_cur"))
    // empty sides (e.g. a single-bucket conversation) yield null PSI, not
    // a divide-by-zero under ANSI mode — callers treat null as "no signal"
    val wKey = Window.partitionBy(key: _*)
    val tBase = sum("n_base").over(wKey)
    val tCur = sum("n_cur").over(wKey)
    counts
      .withColumn("p", when(tBase > 0, greatest(col("n_base") / tBase, lit(eps))))
      .withColumn("q", when(tCur > 0, greatest(col("n_cur") / tCur, lit(eps))))
      .groupBy(key: _*)
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"),
        // current-side row count, piggybacked so verdict "rows" never
        // needs a second scan (callers select what they use)
        sum(col("n_cur")).cast("long").as("n_cur"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic per key:
    * D = max_x |F_baseline(x) - F_current(x)|, computed with one window
    * pass over values sorted within each key (running counts of each side).
    *
    * The running counts use a RANGE frame ordered by the value alone, so
    * all tie peers (rows sharing a value, from either side) are included
    * before the CDF gap is evaluated — the empirical CDF is only defined
    * at distinct values. A ROWS frame ordered by (value, side) would
    * evaluate mid-tie and report KS = 1.0 for two identical all-tied
    * samples (true D = 0); turn-rate series are integer counts, so ties
    * are the common case, not the corner.
    */
  def ks(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String]): DataFrame =
    ksFromCensus(sideCensus(df, valueCol, sideCol, keyCols), keyCols)

  /** KS over a pre-built [[sideCensus]] (see [[psiFromCensus]]). */
  def ksFromCensus(census: DataFrame, keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    // The CDF gap only changes at DISTINCT values, so the side counts are
    // reduced per (key, value) FIRST (map-side-combined hash agg) and the
    // window sort runs over the distinct-value census, not the raw rows —
    // for the global (keyless) tier this shrinks the single-partition
    // window from n rows to the distinct-value count (guide §2.3
    // "aggregate before you shuffle"; the previous form sorted every raw
    // row in one partition). The RANGE-frame tie handling is now implicit:
    // rows are unique per (key, value), so the cumulative sums ARE the
    // tie-correct CDFs evaluated at each distinct value — identical D.
    val counts = census
    val wKey = Window.partitionBy(key: _*)
    val wOrd = Window.partitionBy(key: _*).orderBy(col("__ksv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nBase = sum(col("__cb")).over(wKey)
    val nCur = sum(col("__cc")).over(wKey)
    counts
      .withColumn("cdf_base", when(nBase > 0, sum(col("__cb")).over(wOrd) / nBase))
      .withColumn("cdf_cur", when(nCur > 0, sum(col("__cc")).over(wOrd) / nCur))
      .withColumn("d", abs(col("cdf_base") - col("cdf_cur")))
      .groupBy(key: _*)
      .agg(max(col("d")).as("ks"))
  }

  /** Spark's exact `percentile` over an ascending array, ported literally
    * so array kernels reproduce the aggregate's bits: at pos = (n−1)·p,
    * `(hi − pos)·v_lo + (pos − lo)·v_hi` with lo/hi = floor/ceil(pos),
    * and no interpolation when pos is integral or both ranks hold the
    * same value. `sorted` must be non-empty.
    */
  def exactPercentile(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1).toLong * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val vLo = sorted(lo.toInt)
    if (hi == lo) return vLo
    val vHi = sorted(hi.toInt)
    if (vHi == vLo) vLo
    else (hi - pos) * vLo + (pos - lo) * vHi
  }

  /** Array twin of [[psi]] at its default 10 bins for one key:
    * baseline-quantile bin edges via [[exactPercentile]], the same 1e-4
    * eps clamping and natural log (`StrictMath`, as Spark's `log`). None
    * when either side is empty.
    */
  def psiOf(baseline: Array[Double], current: Array[Double]): Option[Double] =
    if (baseline.isEmpty || current.isEmpty) None
    else {
      val bins = DefaultBins
      val eps = DefaultEps
      val sorted = baseline.sorted
      val edges = (1 until bins).map(i => exactPercentile(sorted, i.toDouble / bins))
      def binOf(v: Double) = edges.count(v > _)
      val nBase = new Array[Long](bins)
      val nCur = new Array[Long](bins)
      baseline.foreach(v => nBase(binOf(v)) += 1)
      current.foreach(v => nCur(binOf(v)) += 1)
      val tBase = baseline.length.toDouble
      val tCur = current.length.toDouble
      // a bin empty on both sides adds (eps - eps)·ln 1 = 0
      Some((0 until bins).map { b =>
        val p = math.max(nBase(b) / tBase, eps)
        val q = math.max(nCur(b) / tCur, eps)
        (p - q) * StrictMath.log(p / q)
      }.sum)
    }

  /** Array twin of [[ks]] for one key: the tie-correct two-sample D, both
    * empirical CDFs evaluated after every distinct value. None when either
    * side is empty.
    */
  def ksOf(baseline: Array[Double], current: Array[Double]): Option[Double] =
    if (baseline.isEmpty || current.isEmpty) None
    else {
      val b = baseline.sorted
      val c = current.sorted
      var i = 0
      var j = 0
      var d = 0.0
      while (i < b.length || j < c.length) {
        val v = if (j == c.length || (i < b.length && b(i) <= c(j))) b(i) else c(j)
        while (i < b.length && b(i) == v) i += 1
        while (j < c.length && c(j) == v) j += 1
        d = math.max(d, math.abs(i.toDouble / b.length - j.toDouble / c.length))
      }
      Some(d)
    }

  /** Sketch-based KS for the 100 TB path: one t-digest per side (mergeable,
    * checkpointable), D approximated as max |rank_base(x) - rank_cur(x)|
    * over a grid of `gridPoints` quantiles of the pooled sketch. Single
    * aggregation pass over the data; the grid evaluation is driver-trivial.
    */
  def ksSketch(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String], gridPoints: Int = 101): DataFrame = {
    val key = keyCols.map(col)
    val v = col(valueCol)
    val sketches = df.groupBy(key: _*).agg(
      Sketches.tdigestAgg(when(col(sideCol) === "baseline", v)).as("td_base"),
      Sketches.tdigestAgg(when(col(sideCol) === "current", v)).as("td_cur"))
    val ds = (0 until gridPoints).map { i =>
      val q = i.toDouble / (gridPoints - 1)
      val x = Sketches.tdigestQuantile(col("td_base"), q)
      abs(Sketches.tdigestRank(col("td_base"), x) -
        Sketches.tdigestRank(col("td_cur"), x))
    }
    sketches.withColumn("ks", greatest(ds: _*)).drop("td_base", "td_cur")
  }

  /** A12: ensemble majority vote across constraint flag columns —
    * k-of-n vote (reference >= 2 of 3,
    * src/geological_anomaly_detector.py:211-213; strict majority at
    * src/anomaly_detection.py:313-325).
    */
  def ensembleVote(df: DataFrame, flagCols: Seq[String], k: Int,
      outCol: String = "ensemble_anomaly"): DataFrame = {
    val votes = flagCols.map(c => coalesce(col(c), lit(false)).cast("int"))
      .reduce(_ + _)
    df.withColumn(outCol, votes >= k)
  }

  /** A13: min-max normalized anomaly score from raw score columns, then
    * row-mean and level bucketing (reference
    * src/geological_anomaly_detector.py:301-338): level thresholds
    * 0.3/0.6/0.8 → normal/low/medium/high.
    */
  def anomalyScore(df: DataFrame, scoreCols: Seq[String]): DataFrame = {
    val mins = scoreCols.map(c => min(col(c)).as(s"${c}_mn"))
    val maxs = scoreCols.map(c => max(col(c)).as(s"${c}_mx"))
    val stats = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val normed = scoreCols.map { c =>
      val rng = col(s"${c}_mx") - col(s"${c}_mn")
      when(rng > 0, (col(c) - col(s"${c}_mn")) / rng).otherwise(lit(0.0))
    }
    val meanScore = normed.map(n => coalesce(n, lit(0.0))).reduce(_ + _) /
      lit(scoreCols.size)
    joined
      .withColumn("anomaly_score", meanScore)
      .withColumn("anomaly_level",
        when(col("anomaly_score") > 0.8, "high")
          .when(col("anomaly_score") > 0.6, "medium")
          .when(col("anomaly_score") > 0.3, "low")
          .otherwise("normal"))
      .drop(scoreCols.flatMap(c => Seq(s"${c}_mn", s"${c}_mx")): _*)
  }
}
