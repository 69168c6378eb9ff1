package graft.series

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.dsl.TurnRateDrift

/** Per-series decomposition over grouped, sorted conversations.
  *
  * The reference builds a pandas Series per (monitor point, feature) and
  * runs STL on it in a driver loop (src/main_analysis.py:223-245). Here the
  * series key is the grouping key of a `flatMapSortedGroups` — one shuffle
  * by key, series arrive sorted, the Scala kernel runs inside executors,
  * parallelism = #conversations. Mega-conversations can't blow memory: a
  * series is buckets-per-conversation, not turns. [[turnRateDrift]] runs
  * the whole turn-rate verdict (decomposition, residual fences, PSI, KS)
  * inside one such group, so the per-conversation statistics need no
  * re-join by key.
  */
object SeriesKernels {

  /** One output row of [[turnRateDrift]]: a residual anomaly (`turn_idx`
    * and `resid` set) or the conversation's verdict (`pass`, `rows`,
    * `violations` set). `conv_id` is the key cast to string, null for the
    * null-key group.
    */
  final case class TurnRateRow(conv_id: String, turn_idx: Option[Int],
      resid: Option[Double], pass: Option[Boolean], rows: Long,
      violations: Long)

  /** T10 turn-rate drift in one grouped pass. The fact table is scanned
    * once into a map-side-combined (key, `bucket` window) → turn-count
    * census; then one `flatMapSortedGroups` per conversation runs, on the
    * sorted bucket counts, the decomposition (`stl` = [[Stl.decompose]],
    * `classical` = [[Decomposition.additive]]'s array twin), the residual
    * flags ([[Decomposition.residualFlags]]) and PSI/KS between the first
    * and second half of the buckets (`idx*2 <= max_idx` is baseline;
    * [[Drift.psiOf]], [[Drift.ksOf]]). Two exchanges, no join: every
    * per-conversation quantity is computed where the series already sits.
    * The null key is a conversation like any other.
    *
    * Output: [[TurnRateRow]]s, the anomaly rows plus one verdict row per
    * conversation. A conversation fails if residual anomalies exist or
    * psi/ks exceed their thresholds (null psi/ks — one side empty — is no
    * signal).
    */
  def turnRateDrift(df: DataFrame, keyCol: String, tsCol: String,
      c: TurnRateDrift): DataFrame = {
    // refuse a bad spec while planning, not inside a task
    require(Set("stl", "classical")(c.method), s"unknown method ${c.method}")
    require(Set("iqr", "zscore", "threshold")(c.residMethod),
      s"unknown method: ${c.residMethod}")
    require(c.period >= 2, "period must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    df.groupBy(col(keyCol), window(col(tsCol), c.bucket).as("w"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col(keyCol).cast("string").as("key"),
        col("w.start").as("bucket_ts"), col("n_turns"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("bucket_ts")) { (key, rows) =>
        turnRateRows(key, rows.map(_._3.toDouble).toArray, c)
      }.toDF()
  }

  /** [[turnRateDrift]]'s per-conversation kernel over the bucket counts in
    * time order.
    */
  private[series] def turnRateRows(key: String, y: Array[Double],
      c: TurnRateDrift): Iterator[TurnRateRow] = {
    val n = y.length
    val resid =
      if (c.method == "classical") Decomposition.additive(y, c.period).resid
      else if (n >= 2 * c.period) Stl.decompose(y, c.period, c.seasonal).resid
      else Array.fill(n)(Double.NaN)
    val flags = Decomposition.residualFlags(resid, c.residMethod, c.residThreshold)
    // baseline = idx*2 <= max_idx, the first ceil(n/2) buckets
    val (baseline, current) = y.splitAt((n + 1) / 2)
    val psi = Drift.psiOf(baseline, current)
    val ks = Drift.ksOf(baseline, current)
    val anomalies = y.indices.filter(flags).map(i =>
      TurnRateRow(key, Some(i), Some(resid(i)), None, 0L, 0L))
    val pass = anomalies.isEmpty && psi.forall(_ <= c.psiThreshold) &&
      ks.forall(_ <= c.ksThreshold)
    anomalies.iterator ++ Iterator.single(
      TurnRateRow(key, None, None, Some(pass), n.toLong, anomalies.size.toLong))
  }

  /** STL-decompose each series: input columns (key, idx, y) → output rows
    * (key, idx, y, trend, seasonal, resid). Series shorter than 2*period
    * pass through with null components (reference skips them,
    * src/main_analysis.py:236).
    */
  def stl(df: DataFrame, keyCol: String, idxCol: String, valueCol: String,
      period: Int, seasonal: Int = 7, robust: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(
      col(keyCol).cast("string").as("key"),
      col(idxCol).cast("int").as("idx"),
      col(valueCol).cast("double").as("y"))
      .as[(String, Int, Double)]
    val out = in.groupByKey(_._1)
      .flatMapSortedGroups(col("idx")) { (key, rows) =>
        val buf = rows.toArray
        val y = buf.map(_._3)
        if (y.length >= 2 * period) {
          val r = Stl.decompose(y, period, seasonal, robust = robust)
          buf.indices.iterator.map { i =>
            (key, buf(i)._2, y(i), Option(r.trend(i)), Option(r.seasonal(i)),
              Option(r.resid(i)))
          }
        } else {
          buf.indices.iterator.map { i =>
            (key, buf(i)._2, y(i), Option.empty[Double], Option.empty[Double],
              Option.empty[Double])
          }
        }
      }
    out.toDF(keyCol, idxCol, valueCol, "trend", "seasonal", "resid")
      .withColumn("fitted", col("trend") + col("seasonal"))
  }

  /** T7: decomposition-based forecast (reference src/decomposition.py:313-362):
    * linear trend extrapolated from the last two trend points + seasonal
    * pattern cycled from the last full period. Input: output of [[stl]] or
    * Decomposition.additive. Output: (key, step 1..periods, forecast).
    */
  def forecast(decomposed: DataFrame, keyCol: String, idxCol: String,
      period: Int, periods: Int = 30): DataFrame = {
    val spark = decomposed.sparkSession
    import spark.implicits._
    val in = decomposed.select(
      col(keyCol).cast("string"), col(idxCol).cast("int"),
      col("trend"), col("seasonal"))
      .as[(String, Int, Option[Double], Option[Double])]
    in.groupByKey(_._1).flatMapSortedGroups(col(idxCol)) { (key, rows) =>
      val buf = rows.toArray
      val trendVals = buf.flatMap(_._3)
      val seasVals = buf.flatMap(_._4)
      if (trendVals.length >= 2 && seasVals.length >= period) {
        val slope = trendVals(trendVals.length - 1) - trendVals(trendVals.length - 2)
        val lastTrend = trendVals.last
        val lastSeason = seasVals.takeRight(period)
        (1 to periods).iterator.map { h =>
          (key, h, lastTrend + slope * h + lastSeason((h - 1) % period))
        }
      } else Iterator.empty
    }.toDF(keyCol, "step", "forecast")
  }
}
