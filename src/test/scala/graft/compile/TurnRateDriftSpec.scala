package graft.compile

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.dsl._
import graft.series.{Decomposition, Drift, SeriesKernels}
import graft.sources.{Tables, TranscriptGen}

/** Parity of the fused turn-rate drift kernel against the operator chain
  * it replaced, rebuilt here from the retained operators: a bucket census
  * with a `row_number` index, `SeriesKernels.stl` /
  * `Decomposition.additive`, exact-`percentile` residual fences joined back
  * by key, `Drift.psi`, `Drift.ks` and left joins. Violation rows
  * (conv_id, turn_idx, observed) and verdict rows must be equal; the one
  * intended difference is the null-key conversation, which the chain's
  * equi-joins passed by omission.
  */
class TurnRateDriftSpec extends GraftSuite {
  import spark.implicits._

  private def reference(df: DataFrame, c: TurnRateDrift): (DataFrame, DataFrame) = {
    val key = "conv_id"
    val series = df
      .groupBy(col(key), window(col("ts"), c.bucket).as("w"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col(key), col("w.start").as("bucket_ts"), col("n_turns"))
      .withColumn("idx",
        row_number().over(Window.partitionBy(col(key)).orderBy(col("bucket_ts"))) - 1)
    val y = series.withColumn("n_turns", col("n_turns").cast("double"))
    val decomposed = c.method match {
      case "stl" => SeriesKernels.stl(y, key, "idx", "n_turns", c.period, c.seasonal)
      case "classical" => Decomposition.additive(y, "n_turns", c.period, Seq(key), Seq("idx"))
    }
    val resid = decomposed.where(col("resid").isNotNull)
    val anomalies = c.residMethod match {
      case "iqr" =>
        val q = resid.groupBy(key).agg(
          expr("percentile(resid, 0.25)").as("rq1"),
          expr("percentile(resid, 0.75)").as("rq3"))
        val tol = lit(1e-9) * greatest(abs(col("lo")), abs(col("hi")), lit(1.0))
        decomposed.join(q, key)
          .withColumn("lo", col("rq1") - lit(c.residThreshold) * (col("rq3") - col("rq1")))
          .withColumn("hi", col("rq3") + lit(c.residThreshold) * (col("rq3") - col("rq1")))
          .where(col("resid") < col("lo") - tol || col("resid") > col("hi") + tol)
      case "zscore" =>
        val s = resid.groupBy(key).agg(
          avg(col("resid")).as("rmean"), stddev_samp(col("resid")).as("rstd"))
        decomposed.join(s, key)
          .where(col("rstd") > 0 &&
            abs((col("resid") - col("rmean")) / col("rstd")) > c.residThreshold)
      case "threshold" => decomposed.where(abs(col("resid")) > c.residThreshold)
    }
    val violations = anomalies.select(col(key).cast("string").as("conv_id"),
      col("idx").cast("int").as("turn_idx"), col("resid").cast("string").as("observed"))
    val sided = series
      .withColumn("__max_idx", max(col("idx")).over(Window.partitionBy(col(key))))
      .withColumn("side", when(col("idx") * 2 <= col("__max_idx"), "baseline")
        .otherwise("current"))
    val verdicts = series.groupBy(col(key)).agg(count(lit(1)).as("rows"))
      .join(Drift.psi(sided, "n_turns", "side", Seq(key)), Seq(key), "left")
      .join(Drift.ks(sided, "n_turns", "side", Seq(key)), Seq(key), "left")
      .join(anomalies.groupBy(col(key)).agg(count(lit(1)).as("resid_anomalies")),
        Seq(key), "left")
      .na.fill(0L, Seq("resid_anomalies"))
      .select(col(key).cast("string").as("partition_key"),
        lit(c.name).as("constraint"),
        (col("resid_anomalies") === 0 &&
          coalesce(col("psi") <= c.psiThreshold, lit(true)) &&
          coalesce(col("ks") <= c.ksThreshold, lit(true))).as("pass"),
        col("rows"), col("resid_anomalies").as("violations"),
        (col("resid_anomalies") / col("rows")).as("violation_rate"))
    (violations, verdicts)
  }

  private def kernel(df: DataFrame, c: TurnRateDrift): (DataFrame, DataFrame) = {
    val r = Validator.validate(df, Check("t", Seq(c)))
    (r.violations.select("conv_id", "turn_idx", "observed"),
      r.verdicts.where(col("constraint") === c.name))
  }

  private def rowSet(df: DataFrame): Set[Row] = df.collect().toSet

  /** Asserts parity; returns (violation rows, failing verdicts). */
  private def assertParity(df: DataFrame, c: TurnRateDrift): (Int, Int) = {
    val (rv, rd) = reference(df, c)
    val (kv, kd) = kernel(df, c)
    val (wantV, gotV) = (rowSet(rv), rowSet(kv))
    assert(gotV == wantV, s"$c violations: missing ${wantV -- gotV}, extra ${gotV -- wantV}")
    val (wantD, gotD) = (rowSet(rd), rowSet(kd))
    assert(gotD == wantD, s"$c verdicts: missing ${wantD -- gotD}, extra ${gotD -- wantD}")
    assert(gotD.nonEmpty)
    (gotV.size, gotD.count(!_.getAs[Boolean]("pass")))
  }

  /** Parity over every config; the fixture must flag something. */
  private def assertParityAll(df: DataFrame, cs: Seq[TurnRateDrift]): Unit = {
    val found = cs.map(assertParity(df, _))
    assert(found.exists(_._1 > 0) && found.exists(_._2 > 0), found)
  }

  private val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")

  /** Turn rows from per-bucket turn counts (1-minute buckets). */
  private def turns(convs: Seq[(String, Seq[Int])]): DataFrame =
    convs.flatMap { case (conv, counts) =>
      counts.zipWithIndex.flatMap { case (k, b) =>
        (0 until k).map(j => (conv, java.sql.Timestamp.from(
          t0.plusSeconds(b * 60L + j))))
      }
    }.zipWithIndex.map { case ((conv, ts), i) => (conv, i, ts) }
      .toDF("conv_id", "turn_idx", "ts")

  private def burst(n: Int, at: Int): Seq[Int] =
    (0 until n).map(i => if (i == at) 30 else 2 + (i * 7) % 3)

  private lazy val edgeCases = {
    val t = turns(Seq(
      "burst" -> burst(60, 35),
      "seasonal" -> (0 until 42).map(i => 1 + (i % 7)),
      "short" -> Seq(3, 1, 4, 1, 5), // < 2 * period buckets
      "single" -> Seq(9), // one bucket: null PSI and KS
      "tied" -> Seq.fill(30)(3))) // all-tied counts
    // a null ts: window() drops the turn from both censuses
    t.union(Seq(("tied", 999, null: java.sql.Timestamp)).toDF("conv_id", "turn_idx", "ts"))
      .cache()
  }

  private val methods = Seq("iqr" -> 1.5, "zscore" -> 2.0, "threshold" -> 2.0)

  test("parity on edge cases: every decomposition method x residual method") {
    assertParityAll(edgeCases, for (m <- Seq("stl", "classical"); (rm, thr) <- methods)
      yield TurnRateDrift(bucket = "1 minute", period = 7, method = m,
        residMethod = rm, residThreshold = thr))
  }

  test("parity on the seed-42 bench table (1 minute, period 7)") {
    val t = TranscriptGen.generate(spark, nConvs = 60).cache()
    assertParityAll(t, for (m <- Seq("stl", "classical"); (rm, thr) <- methods)
      yield TurnRateDrift(bucket = "1 minute", period = 7, method = m,
        seasonal = 7, residMethod = rm, residThreshold = thr))
    t.unpersist()
  }

  test("parity on sf0.001 transcripts at the q50 (stl) and q52 (classical) settings") {
    val t = Tables.transcripts(spark, sfTiny).cache()
    assertParityAll(t, Seq("stl", "classical").map(m => TurnRateDrift(
      bucket = "1 hour", period = 24, method = m, seasonal = 7, residThreshold = 3.0)))
    t.unpersist()
  }

  test("a null-conv_id conversation is evaluated, not passed by omission") {
    val series = burst(60, 35)
    val t = turns(Seq("conv_a" -> series, "null" -> series))
      .withColumn("conv_id", when(col("conv_id") =!= "null", col("conv_id")))
    val c = TurnRateDrift(bucket = "1 minute", period = 7, residThreshold = 1.5)
    val (kv, kd) = kernel(t, c)
    val verdicts = kd.select("partition_key", "pass", "rows", "violations")
      .as[(String, Boolean, Long, Long)].collect()
      .map(v => v._1 -> (v._2, v._3, v._4)).toMap
    val (pass, rows, violations) = verdicts("conv_a")
    assert(!pass && rows == 60 && violations > 0, verdicts)
    assert(verdicts("(null)") == verdicts("conv_a"), verdicts)
    val byConv = kv.groupBy("conv_id").count().as[(String, Long)].collect().toMap
    assert(byConv.get(null).contains(violations) && byConv("conv_a") == violations)
    // the replaced chain read the same null-key series as a pass
    val refNull = reference(t, c)._2.where(col("partition_key").isNull)
      .select("pass", "violations").as[(Boolean, Long)].collect()
    assert(refNull.toSeq == Seq((true, 0L)))
  }

  test("a bad method is refused while planning") {
    for (c <- Seq(TurnRateDrift(method = "loess"), TurnRateDrift(residMethod = "mad"),
        TurnRateDrift(period = 1)))
      intercept[IllegalArgumentException](
        SeriesKernels.turnRateDrift(edgeCases, "conv_id", "ts", c))
  }
}
