package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.Sketches
import graft.dsl._

/** Exactly-mergeable per-partition statistics state (SURVEY.md §7.4): for
  * each referenced column a row of commutative accumulators —
  * (n, nulls, sum, sumsq, min, max, t-digest blob, HLL blob). Partition
  * states written at checkpoint time union back into the global state on
  * restart with [[merge]]; aggregate-level constraint verdicts are then
  * evaluated once from the merged state ([[aggVerdicts]]) without
  * rescanning any data.
  */
object StatsState {

  /** Columns a Check's aggregate constraints need state for. */
  def statedColumns(check: Check): Seq[(String, Boolean)] = {
    // (column, isNumeric)
    val numeric = check.constraints.collect {
      case c: MeanBetween => c.column
      case c: StddevBetween => c.column
      case c: QuantileBetween => c.column
    }.distinct.map(_ -> true)
    val categorical = (check.constraints.collect {
      case c: DistinctCountBetween => c.column
      // null counters for callers that report them (q45); NotNull's
      // [global] verdict itself re-aggregates from the slice counts
      case c: NotNull => c.column
      // MinRows has no column of its own but still needs the row counter:
      // state the key column so a MinRows-only check writes state and its
      // global verdict survives a resumable run (n rides any state row)
      case _: MinRows => check.keyCol
    }).distinct.map(_ -> false)
    (numeric ++ categorical).groupBy(_._1)
      .map { case (c, vs) => c -> vs.exists(_._2) }.toSeq.sortBy(_._1)
  }

  /** One long-format state row per column, in a single aggregation pass
    * (a union of per-column 1-row aggs over the same scan is collapsed by
    * Spark into one shuffle-free job per column; at partition granularity
    * this stays cheap because each runs over the already-filtered slice).
    */
  def compute(df: DataFrame, check: Check): DataFrame = {
    val cols = statedColumns(check)
    require(cols.nonEmpty, "no aggregate-level constraints in check")
    val frames = cols.map { case (c, isNum) =>
      val v = col(c)
      val numV = if (isNum) v.cast("double") else lit(null).cast("double")
      df.agg(
        count(lit(1)).as("n"),
        count(when(v.isNull, 1)).as("nulls"),
        sum(numV).as("sum"),
        sum(numV * numV).as("sumsq"),
        min(numV).as("mn"),
        max(numV).as("mx"),
        Sketches.tdigestAgg(numV).as("td"),
        hll_sketch_agg(v.cast("string")).as("hll"))
        .withColumn("column", lit(c))
    }
    frames.reduce(_ unionByName _)
      .select("column", "n", "nulls", "sum", "sumsq", "mn", "mx", "td", "hll")
  }

  /** Union partition states into a global state (commutative merges only). */
  def merge(states: DataFrame): DataFrame =
    states.groupBy(col("column")).agg(
      sum(col("n")).as("n"),
      sum(col("nulls")).as("nulls"),
      sum(col("sum")).as("sum"),
      sum(col("sumsq")).as("sumsq"),
      min(col("mn")).as("mn"),
      max(col("mx")).as("mx"),
      Sketches.tdigestMergeAgg(col("td")).as("td"),
      hll_union_agg(col("hll")).as("hll"))

  /** Evaluate aggregate constraints from a merged state — no data rescan. */
  def aggVerdicts(merged: DataFrame, check: Check): DataFrame = {
    val spark = merged.sparkSession
    import spark.implicits._
    val rows = merged.select(col("column"), col("n"), col("nulls"), col("sum"),
      col("sumsq"),
      Sketches.tdigestQuantile(col("td"), 0.25).as("q25"),
      Sketches.tdigestQuantile(col("td"), 0.5).as("q50"),
      Sketches.tdigestQuantile(col("td"), 0.75).as("q75"),
      Sketches.tdigestQuantile(col("td"), 0.9).as("q90"),
      Sketches.tdigestQuantile(col("td"), 0.95).as("q95"),
      Sketches.tdigestQuantile(col("td"), 0.99).as("q99"),
      hll_sketch_estimate(col("hll")).as("distinct"))
      .collect().map(r => r.getString(0) -> r).toMap

    def q(c: String, p: Double): Double = {
      val r = rows(c)
      p match {
        case 0.25 => r.getAs[Double]("q25"); case 0.5 => r.getAs[Double]("q50")
        case 0.75 => r.getAs[Double]("q75"); case 0.9 => r.getAs[Double]("q90")
        case 0.95 => r.getAs[Double]("q95"); case 0.99 => r.getAs[Double]("q99")
        case other => throw new IllegalArgumentException(
          s"resumable quantile grid supports {.25,.5,.75,.9,.95,.99}, got $other")
      }
    }

    val verdicts = check.constraints.collect {
      case c @ MinRows(k) =>
        val n = rows.values.headOption.map(_.getAs[Long]("n")).getOrElse(0L)
        (c.name, n >= k, n, 0.0)
      case c @ MeanBetween(columnName, lo, hi) =>
        val r = rows(columnName)
        val m = r.getAs[Double]("sum") / (r.getAs[Long]("n") - r.getAs[Long]("nulls"))
        (c.name, m >= lo && m <= hi, r.getAs[Long]("n"), m)
      case c @ StddevBetween(columnName, lo, hi) =>
        val r = rows(columnName)
        val n = (r.getAs[Long]("n") - r.getAs[Long]("nulls")).toDouble
        val s = math.sqrt((r.getAs[Double]("sumsq") -
          math.pow(r.getAs[Double]("sum"), 2) / n) / (n - 1))
        (c.name, s >= lo && s <= hi, r.getAs[Long]("n"), s)
      case c @ QuantileBetween(columnName, p, lo, hi, _) =>
        val v = q(columnName, p)
        (c.name, v >= lo && v <= hi, rows(columnName).getAs[Long]("n"), v)
      case c @ DistinctCountBetween(columnName, lo, hi) =>
        val v = rows(columnName).getAs[Long]("distinct")
        (c.name, v >= lo && v <= hi, rows(columnName).getAs[Long]("n"), v.toDouble)
    }
    verdicts.toDF("constraint", "pass", "rows", "observed")
      .withColumn("partition_key", lit("(global)"))
  }
}
