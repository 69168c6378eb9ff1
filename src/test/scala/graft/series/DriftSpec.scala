package graft.series

import org.apache.spark.sql.functions._
import graft.GraftSuite

class DriftSpec extends GraftSuite {
  import spark.implicits._

  // baseline N(≈0..1 uniform-ish deterministic), current shifted for key b
  lazy val twoSided = {
    val rows = for {
      key <- Seq("stable", "shifted")
      side <- Seq("baseline", "current")
      i <- 0 until 2000
    } yield {
      val u = ((i * 2654435761L + key.hashCode + side.hashCode * 31) & 0x7fffffff) /
        Int.MaxValue.toDouble
      val v = if (key == "shifted" && side == "current") u + 0.7 else u
      (key, side, v)
    }
    rows.toDF("key", "side", "x").cache()
  }

  test("PSI near zero for stable, large for shifted") {
    val p = Drift.psi(twoSided, "x", "side", Seq("key"))
      .select("key", "psi").as[(String, Double)].collect().toMap
    assert(p("stable") < 0.05, s"stable psi=${p("stable")}")
    assert(p("shifted") > 0.5, s"shifted psi=${p("shifted")}")
  }

  test("exact KS matches a hand-computed two-sample statistic") {
    val small = Seq(
      ("k", "baseline", 1.0), ("k", "baseline", 2.0), ("k", "baseline", 3.0),
      ("k", "current", 2.5), ("k", "current", 3.5), ("k", "current", 4.0))
      .toDF("key", "side", "x")
    // F_b steps at 1,2,3 (1/3,2/3,1); F_c at 2.5,3.5,4. Max gap = at x=3: |1 - 1/3| = 2/3
    val d = Drift.ks(small, "x", "side", Seq("key")).collect()(0).getDouble(1)
    assert(math.abs(d - 2.0 / 3.0) < 1e-9, s"ks=$d")
  }

  test("KS small for stable, large for shifted; sketch KS agrees") {
    val exact = Drift.ks(twoSided, "x", "side", Seq("key"))
      .as[(String, Double)].collect().toMap
    val approx = Drift.ksSketch(twoSided, "x", "side", Seq("key"))
      .as[(String, Double)].collect().toMap
    assert(exact("stable") < 0.06 && exact("shifted") > 0.6)
    assert(math.abs(approx("stable") - exact("stable")) < 0.05)
    assert(math.abs(approx("shifted") - exact("shifted")) < 0.08)
  }

  test("sketch KS tracks exact KS across distribution shapes (|Δ| ≤ ε)") {
    // differential gate for the 100 TB path: one deterministic two-sample
    // fixture per shape family — uniform vs small shift, uniform vs large
    // shift, bimodal vs unimodal, heavy-tail vs body-only, discrete/tied
    // counts — each key's t-digest KS must stay within ε of the exact
    // windowed KS. ε = 0.05 abs (t-digest rank error is ~O(1/compression)
    // at the center, larger near 0/1; the drift thresholds in play are
    // 0.3-0.5, an order of magnitude above ε).
    def u(i: Int, salt: Int): Double =
      (((i * 2654435761L + salt * 97L) & 0x7fffffff) / Int.MaxValue.toDouble)
    val rows = Seq.newBuilder[(String, String, Double)]
    for (i <- 0 until 3000) {
      val b = u(i, 1)
      rows += (("small_shift", "baseline", b))
      rows += (("small_shift", "current", u(i, 2) + 0.08))
      rows += (("large_shift", "baseline", b))
      rows += (("large_shift", "current", u(i, 3) + 0.9))
      // bimodal current: half the mass pushed to a second mode at +2
      rows += (("bimodal", "baseline", b))
      rows += (("bimodal", "current", if (i % 2 == 0) u(i, 4) else u(i, 4) + 2.0))
      // heavy tail: every 20th point is 10-50x the body
      rows += (("heavy_tail", "baseline", b))
      rows += (("heavy_tail", "current",
        if (i % 20 == 0) 10.0 + 40.0 * u(i, 5) else u(i, 6)))
      // discrete integer counts (turn-rate shape): Poisson-ish ties
      rows += (("discrete", "baseline", math.floor(6 * u(i, 7))))
      rows += (("discrete", "current", math.floor(6 * math.pow(u(i, 8), 0.7))))
    }
    val df = rows.result().toDF("key", "side", "x")
    val exact = Drift.ks(df, "x", "side", Seq("key"))
      .as[(String, Double)].collect().toMap
    val approx = Drift.ksSketch(df, "x", "side", Seq("key"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (k, d) =>
      assert(math.abs(approx(k) - d) <= 0.05,
        s"$k: sketch=${approx(k)} exact=$d")
    }
    // sanity: the fixtures actually span the range
    assert(exact("small_shift") < 0.2 && exact("large_shift") > 0.8)
  }

  test("KS on tied values: identical all-tied samples give D = 0, not 1") {
    // Integer bucket counts tie constantly; mid-tie CDF evaluation would
    // report D = 1.0 here. With tie peers fully included (RANGE frame),
    // both empirical CDFs agree at every distinct value.
    val tied = Seq.tabulate(20)(i => ("k", if (i % 2 == 0) "baseline" else "current", 7.0))
      .toDF("key", "side", "x")
    val d = Drift.ks(tied, "x", "side", Seq("key")).collect()(0).getDouble(1)
    assert(math.abs(d) < 1e-12, s"ks=$d for identical tied samples")
    // Mixed ties: b = {1,1,2}, c = {1,2,2}. F_b(1)=2/3, F_c(1)=1/3 → D=1/3.
    val mixed = Seq(("k", "baseline", 1.0), ("k", "baseline", 1.0), ("k", "baseline", 2.0),
      ("k", "current", 1.0), ("k", "current", 2.0), ("k", "current", 2.0))
      .toDF("key", "side", "x")
    val d2 = Drift.ks(mixed, "x", "side", Seq("key")).collect()(0).getDouble(1)
    assert(math.abs(d2 - 1.0 / 3.0) < 1e-12, s"ks=$d2 for mixed ties")
  }

  test("one-sided input yields null PSI/KS, not an ANSI divide-by-zero") {
    val oneSided = Seq(("k", "baseline", 1.0), ("k", "baseline", 2.0))
      .toDF("key", "side", "x")
    val p = Drift.psi(oneSided, "x", "side", Seq("key")).collect()(0)
    assert(p.isNullAt(1))
    val k = Drift.ks(oneSided, "x", "side", Seq("key")).collect()(0)
    assert(k.isNullAt(1))
  }

  test("exactPercentile reproduces Spark's percentile bit for bit") {
    val rng = new scala.util.Random(7)
    val samples = Seq(
      Array.fill(37)(rng.nextGaussian()),
      Array.fill(50)(rng.nextInt(6).toDouble), // ties, integer counts
      Array(3.0), Array(1.0, 2.0))
    val ps = Seq(0.1, 0.25, 0.3, 0.5, 0.7, 0.75, 0.9)
    for (xs <- samples) {
      val want = xs.toSeq.toDF("x")
        .agg(percentile(col("x"), array(ps.map(lit): _*)))
        .as[Seq[Double]].head()
      val got = ps.map(Drift.exactPercentile(xs.sorted, _))
      assert(got.map(java.lang.Double.doubleToLongBits) ==
        want.map(java.lang.Double.doubleToLongBits), s"$got vs $want")
    }
  }

  test("psiOf/ksOf: the array twins of psi/ks") {
    val rng = new scala.util.Random(11)
    val cases = Seq(
      (Array.fill(30)(rng.nextInt(8).toDouble), Array.fill(25)(rng.nextInt(12).toDouble)),
      (Array.fill(20)(3.0), Array.fill(20)(3.0)), // all tied
      (Array(1.0, 2.0, 3.0), Array(2.5, 3.5, 4.0)))
    for ((b, c) <- cases) {
      val df = (b.map(("k", "baseline", _)) ++ c.map(("k", "current", _))).toSeq
        .toDF("key", "side", "x")
      val psi = Drift.psi(df, "x", "side", Seq("key")).head().getAs[Double]("psi")
      val ks = Drift.ks(df, "x", "side", Seq("key")).head().getAs[Double]("ks")
      assert(math.abs(Drift.psiOf(b, c).get - psi) < 1e-12)
      assert(Drift.ksOf(b, c).contains(ks))
    }
    assert(Drift.psiOf(Array(1.0), Array.empty).isEmpty)
    assert(Drift.ksOf(Array(1.0), Array.empty).isEmpty)
  }

  test("ensemble k-of-n vote (A12)") {
    val df = Seq((true, true, false), (true, false, false), (false, false, false))
      .toDF("a", "b", "c")
    val got = Drift.ensembleVote(df, Seq("a", "b", "c"), k = 2)
      .select("ensemble_anomaly").as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false))
  }

  test("anomaly score: min-max normalized row mean + level buckets (A13/F9)") {
    val df = Seq((0.0, 10.0), (5.0, 20.0), (10.0, 20.0)).toDF("s1", "s2")
    val got = Drift.anomalyScore(df, Seq("s1", "s2"))
      .select("anomaly_score", "anomaly_level").collect()
    // row1: (0 + 0)/2 = 0 → normal; row2: (0.5+1)/2=0.75 → medium; row3: (1+1)/2=1 → high
    assert(math.abs(got(0).getDouble(0) - 0.0) < 1e-9 && got(0).getString(1) == "normal")
    assert(math.abs(got(1).getDouble(0) - 0.75) < 1e-9 && got(1).getString(1) == "medium")
    assert(math.abs(got(2).getDouble(0) - 1.0) < 1e-9 && got(2).getString(1) == "high")
  }
}
