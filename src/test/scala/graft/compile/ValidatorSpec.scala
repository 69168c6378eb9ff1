package graft.compile

import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}

class ValidatorSpec extends GraftSuite {
  import spark.implicits._

  lazy val transcripts = TranscriptGen.generate(spark, nConvs = 120,
    baseTurns = 48).cache()
  lazy val dims = Validator.Context(Map(
    "role_dim" -> Tables.roleDim(spark),
    "tool_dim" -> Tables.toolDim(spark)))

  lazy val textCol = TranscriptGen.textExpr(col("conv_id"), col("turn_idx"))

  lazy val suite = Check("transcripts", Seq(
    NotNull("conv_id"),
    NotNull("text"),
    UniqueKey(Seq("conv_id", "turn_idx")),
    ReferentialIntegrity("role", "role_dim", "role"),
    ReferentialIntegrity("tool", "tool_dim", "tool"),
    TextEquals("text", textCol),
    MinRows(1000),
    DistinctCountBetween("conv_id", 100, 150),
    MatchesRegex("conv_id", "^conv_[0-9]{8}$"),
    ValueBounds("turn_idx", Some(0), None),
    TurnRateDrift(bucket = "10 minutes", period = 6, method = "stl",
      seasonal = 7, residThreshold = 3.0)
  ))

  lazy val result = {
    val r = Validator.validate(transcripts, suite, dims)
    Validator.Result(r.violations.cache(), r.verdicts.cache())
  }

  test("uniqueness: finds exactly the injected duplicate keys") {
    val expected = transcripts.groupBy("conv_id", "turn_idx").count()
      .where(col("count") > 1).count()
    val got = result.violations
      .where(col("constraint").startsWith("unique(")).count()
    assert(expected > 0, "fixture should inject duplicates")
    assert(got == expected)
  }

  test("referential integrity: finds exactly the injected invalid roles/tools") {
    val expRoles = transcripts.where(col("role") === "invalid_role").count()
    val gotRoles = result.violations
      .where(col("constraint") === "ref(role->role_dim)").count()
    assert(expRoles > 0 && gotRoles == expRoles)
    val expTools = transcripts
      .where(col("tool").isNotNull && col("tool") === "tool_xx").count()
    val gotTools = result.violations
      .where(col("constraint") === "ref(tool->tool_dim)").count()
    assert(expTools > 0 && gotTools == expTools)
  }

  test("per-turn text equality holds for the generator's closed form") {
    val v = result.violations.where(col("constraint").startsWith("text_equals"))
    assert(v.isEmpty)
  }

  test("text equality catches a corrupted turn") {
    val corrupted = transcripts.withColumn("text",
      when(col("conv_id") === "conv_00000003" && col("turn_idx") === 5,
        lit("tampered")).otherwise(col("text")))
    val r = Validator.validate(corrupted,
      Check("t", Seq(TextEquals("text", textCol))), dims)
    val rows = r.violations.collect()
    assert(rows.length >= 1)
    assert(rows.forall(x => x.getAs[String]("conv_id") == "conv_00000003" &&
      x.getAs[Int]("turn_idx") == 5))
  }

  test("global aggregate verdicts pass on sane bounds") {
    val g = result.verdicts.where(col("partition_key") === "(global)")
      .select("constraint", "pass").as[(String, Boolean)].collect().toMap
    assert(g("min_rows(1000)"))
    assert(g("distinct(conv_id)"))
  }

  test("per-conversation verdicts: convs without violations pass, with fail") {
    val v = result.verdicts
      .where(col("constraint") === "ref(role->role_dim)" &&
        col("partition_key") =!= "(global)")
    val convsWithBad = transcripts.where(col("role") === "invalid_role")
      .select("conv_id").distinct().as[String].collect().toSet
    val failed = v.where(!col("pass")).select("partition_key").as[String]
      .collect().toSet
    assert(failed == convsWithBad)
    // every conversation got a verdict row
    assert(v.count() == transcripts.select("conv_id").distinct().count())
  }

  test("turn-rate drift flags burst conversations") {
    val verdicts = result.verdicts.where(col("constraint") === "turn_rate_drift")
    val failed = verdicts.where(!col("pass")).select("partition_key")
      .as[String].collect().toSet
    // burst convs: uhash(conv,19) % 20 == 0 per generator; expect some flagged
    assert(failed.nonEmpty, "burst conversations should fail drift")
    assert(verdicts.where(col("pass")).count() > 0, "sane convs should pass")
  }

  test("RobustZ/IqrOutliers approx defaults flag the same rows as exact " +
      "on a well-separated fixture") {
    // values 0..999 plus extreme outliers: approx (percentile_approx) and
    // exact quantiles agree on which rows breach a 3.5-MAD / 2-IQR fence
    val df = ((0 until 1000).map(i => ("c0", i, i.toDouble)) ++
      Seq(("c0", 1000, 1e7), ("c0", 1001, -1e7)))
      .toDF("conv_id", "turn_idx", "v")
    val approx = Validator.validate(df,
      Check("a", Seq(RobustZ("v"), IqrOutliers("v"))), dims)
    val exact = Validator.validate(df,
      Check("a", Seq(RobustZ("v", approx = false), IqrOutliers("v", approx = false))), dims)
    def keys(r: Validator.Result) = r.violations
      .select("constraint", "turn_idx").collect()
      .map(x => (x.getString(0), x.getInt(1))).toSet
    val ka = keys(approx)
    assert(ka == keys(exact))
    assert(ka.exists(_._2 == 1000) && ka.exists(_._2 == 1001))
  }

  test("violations carry usable diagnostics") {
    val r = result.violations.where(col("constraint") === "ref(role->role_dim)")
      .select("observed", "bound").distinct().collect()
    assert(r.nonEmpty && r.forall(_.getString(0) == "invalid_role"))
  }

  test("RobustZ on an all-null column yields a clean no-signal pass") {
    // regression (VERDICT r2 item 4): median = NaN used to be string-
    // interpolated into the MAD SQL, where `NaN` parsed as a column
    // reference and threw AnalysisException at plan time
    val df = Seq(("c0", 0), ("c0", 1), ("c1", 0))
      .toDF("conv_id", "turn_idx")
      .withColumn("allnull", lit(null).cast("double"))
    Seq(true, false).foreach { approx =>
      val r = Validator.validate(df,
        Check("t", Seq(RobustZ("allnull", approx = approx))), dims)
      assert(r.violations.count() == 0, s"approx=$approx")
    }
  }

  test("two RI constraints on one dim with different dimColumns don't collide") {
    // regression (ADVICE r2): inlineDimValues was keyed by dim name only,
    // so the second constraint was checked against the first's value set
    val dim = Seq(("x", "p"), ("y", "q")).toDF("a", "b")
    val fact = Seq(("c1", 0, "x", "p"), ("c1", 1, "p", "x"))
      .toDF("conv_id", "turn_idx", "col1", "col2")
    val r = Validator.validate(fact, Check("t", Seq(
      ReferentialIntegrity("col1", "d", "a"),
      ReferentialIntegrity("col2", "d", "b"))),
      Validator.Context(Map("d" -> dim)))
    val byC = r.violations.groupBy("constraint").count()
      .as[(String, Long)].collect().toMap
    // col1='p' is not in dim.a {x,y}; col2='x' is not in dim.b {p,q}
    assert(byC.get("ref(col1->d)").contains(1L), s"got $byC")
    assert(byC.get("ref(col2->d)").contains(1L), s"got $byC")
    val obs = r.violations.select("constraint", "observed")
      .as[(String, String)].collect().toSet
    assert(obs == Set(("ref(col1->d)", "p"), ("ref(col2->d)", "x")))
  }

  test("RollingZDrift on a constant series: no flags, no ANSI divide crash") {
    // a full window of identical values has rolling_std = 0.0; Spark 4's
    // default ANSI mode throws DIVIDE_BY_ZERO on doubles, so the unguarded
    // z would abort the whole suite on any flat conversation
    val df = (0 until 20).map(i => ("flat", i, 7.0)).toDF("conv_id", "turn_idx", "v")
    val r = Validator.validate(df, Check("t", Seq(
      RollingZDrift("v", window = 5, threshold = 3.0))), dims)
    assert(r.violations.count() == 0)
  }

  test("MaxSessionGap flags exactly the boundaries Sessions.assign opens") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      ("c1", 0, ts("2024-01-01 00:00:00")),
      ("c1", 1, ts("2024-01-01 00:10:00")),
      ("c1", 2, ts("2024-01-01 03:00:00")), // 2h50m gap > 1h
      ("c1", 3, ts("2024-01-01 03:20:00")),
      ("c2", 0, ts("2024-01-02 00:00:00")), // first turn: never a violation
      ("c2", 1, ts("2024-01-02 02:00:00"))) // 2h gap
      .toDF("conv_id", "turn_idx", "ts")
    val r = Validator.validate(df,
      Check("t", Seq(MaxSessionGap(3600L))), dims)
    val got = r.violations.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("c1", 2), ("c2", 1)))
    // parity with the library operator: violations = session starts past
    // each conversation's first (Σ max(session_idx))
    val extraSessions = graft.series.Sessions
      .assign(df, "conv_id", "ts", "turn_idx", 3600L)
      .groupBy("conv_id").agg(max("session_idx").as("m"))
      .agg(sum("m")).collect()(0).getLong(0)
    assert(extraSessions == got.size)
    // per-conversation verdicts: both convs fail, with counts
    val v = r.verdicts
      .where(col("constraint").startsWith("session_gap") && !col("pass"))
      .select("partition_key", "violations")
      .as[(String, Long)].collect().toMap
    assert(v == Map("c1" -> 1L, "c2" -> 1L))
  }

  test("AsOfIntegrity resolves against snapshots as of ts, on both tiers") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val fact = Seq(
      ("c1", 0, ts("2024-01-01 00:00:00"), "admin"), // before first snap → violation
      ("c1", 1, ts("2024-01-02 12:00:00"), "admin"), // resolves to 01-02 snap
      ("c1", 2, ts("2024-01-02 12:00:00"), "ghost"), // key not in dim → violation
      ("c1", 3, ts("2024-01-02 12:00:00"), null),    // null key, nullOk → skipped
      ("c1", 4, null.asInstanceOf[Timestamp], "admin")) // null ts → violation
      .toDF("conv_id", "turn_idx", "ts", "role")
    val snapDim = Seq(("admin", ts("2024-01-02 00:00:00"), 1))
      .toDF("role", "valid_from", "v")
    val ctx2 = Validator.Context(Map("role_snap" -> snapDim))
    for (bcast <- Seq(true, false)) {
      val r = Validator.validate(fact, Check("t", Seq(
        AsOfIntegrity("role", "role_snap", "role", "valid_from",
          broadcastDim = bcast))), ctx2)
      val got = r.violations.select("conv_id", "turn_idx")
        .as[(String, Int)].collect().toSet
      assert(got == Set(("c1", 0), ("c1", 2), ("c1", 4)), s"bcast=$bcast")
      val verdict = r.verdicts
        .where(col("constraint").startsWith("asof(") &&
          col("partition_key") === "c1").collect()(0)
      assert(!verdict.getAs[Boolean]("pass") &&
        verdict.getAs[Long]("violations") == 3L)
    }
  }

  test("RollingZDrift with NaN values: windows covering the NaN never flag") {
    // regression (ADVICE r5): Spark SQL treats NaN > 0 and abs(NaN) > t as
    // TRUE, so without the !isnan guards one NaN in validated data turned
    // every window covering it into a false-positive violation — diverging
    // from Windows.rollingZ and the streaming kernel, which both guard
    val rows = (0 until 20).map(i =>
      ("c0", i, if (i == 10) Double.NaN else i.toDouble))
    val df = rows.toDF("conv_id", "turn_idx", "v")
    val r = Validator.validate(df, Check("t", Seq(
      RollingZDrift("v", window = 5, threshold = 3.0))), dims)
    assert(r.violations.count() == 0, "NaN windows must not flag")
    // parity with the batch kernel on the same series
    val kernel = graft.series.Windows.rollingZ(df, "v", 5, 3.0,
      Seq("conv_id"), Seq("turn_idx"))
    assert(kernel.where(col("v_z_anomaly")).count() == 0)
  }

  test("fused UniqueKey emits duplicates ONCE with multiple RollingZDrift") {
    // regression (ADVICE r2): the fused duplicate-key check was appended
    // per RollingZDrift constraint, double-counting violations
    val rows = (0 until 30).map(i => ("c0", i, i.toDouble, 30.0 - i)) :+
      ("c0", 7, 99.0, 99.0) // duplicate (c0, 7)
    val df = rows.toDF("conv_id", "turn_idx", "v1", "v2")
    val r = Validator.validate(df, Check("t", Seq(
      UniqueKey(Seq("conv_id", "turn_idx")),
      RollingZDrift("v1", window = 5, threshold = 3.0),
      RollingZDrift("v2", window = 5, threshold = 3.0))), dims)
    val uniq = r.violations.where(col("constraint").startsWith("unique("))
    assert(uniq.count() == 1, s"expected 1 duplicate-key violation")
    // and the per-conv verdict counts it once
    val verdict = r.verdicts
      .where(col("constraint").startsWith("unique(") &&
        col("partition_key") === "c0").collect()(0)
    assert(verdict.getAs[Long]("violations") == 1L)
  }

  test("inline RI with nullOk: a NULL in the dim's value list doesn't swallow violations") {
    // regression (ADVICE r2): `isNotNull && !in` without coalesce let
    // isin's three-valued NULL drop real violations when the dim itself
    // contains a NULL value
    val dim = Seq(Some("x"), None).toDF("a")
    val fact = Seq(("c1", 0, Some("x")), ("c1", 1, Some("z")), ("c1", 2, None))
      .toDF("conv_id", "turn_idx", "c")
    val r = Validator.validate(fact,
      Check("t", Seq(ReferentialIntegrity("c", "d", "a", nullOk = true))),
      Validator.Context(Map("d" -> dim)))
    val v = r.violations.select("observed").as[String].collect().toSeq
    assert(v == Seq("z"), s"got $v")
  }

  test("broadcastDim=false: shuffled anti-join RI equals the broadcast path") {
    // >1024 distinct dim values so the inline-isin tier is skipped
    val dim = (0 until 3000).map(i => f"k$i%04d").toDF("a")
    val fact = (0 until 500).map { i =>
      ("c1", i, if (i % 50 == 0) s"bad$i" else f"k${i % 3000}%04d")
    }.toDF("conv_id", "turn_idx", "c")
    def viol(bcast: Boolean) = Validator.validate(fact,
      Check("t", Seq(ReferentialIntegrity("c", "d", "a", broadcastDim = bcast))),
      Validator.Context(Map("d" -> dim)))
      .violations.select("turn_idx").as[Int].collect().toSet
    val shuffled = viol(bcast = false)
    assert(shuffled == viol(bcast = true))
    assert(shuffled == (0 until 500 by 50).toSet)
  }

  test("MaxKeyShare flags exactly the keys over the share, sketch == exact census") {
    // mega conv owns 30% of rows; 20 small convs share the rest
    val rows = (0 until 300).map(i => ("mega", i, 1.0)) ++
      (0 until 700).map(i => (s"c${i % 20}", i / 20, 1.0))
    val df = rows.toDF("conv_id", "turn_idx", "v").repartition(6)
    val r = Validator.validate(df,
      Check("t", Seq(MaxKeyShare("conv_id", maxFrac = 0.125, k = 64))))
    val verd = r.verdicts.collect()
      .map(x => x.getString(0) -> (x.getBoolean(2), x.getAs[Long]("rows"))).toMap
    assert(verd("mega") == (false, 300L))
    assert(verd("(global)")._1 == false)
    assert(verd.size == 2, s"only mega + global expected: ${verd.keys}")
    // clean data passes globally with no per-key rows
    val ok = Validator.validate(df.where(col("conv_id") =!= "mega"),
      Check("t", Seq(MaxKeyShare("conv_id", maxFrac = 0.125, k = 64))))
    val g = ok.verdicts.collect().map(x => x.getString(0) -> x.getBoolean(2)).toMap
    assert(g == Map("(global)" -> true))
    // guarantee precondition is enforced
    intercept[IllegalArgumentException] {
      Validator.validate(df, Check("t", Seq(MaxKeyShare("conv_id", 0.125, k = 8))))
    }
  }

  test("MaxKeyShare on a non-string column with nulls: share is over non-null rows") {
    // v: 300 nulls + key 42 on 210 of 700 non-null rows (30% > 25%)
    val rows = (0 until 1000).map { i =>
      ("c0", i, if (i < 300) None else Some(if (i < 510) 42 else i))
    }
    val df = rows.toDF("conv_id", "turn_idx", "v")
    val r = Validator.validate(df,
      Check("t", Seq(MaxKeyShare("v", maxFrac = 0.25, k = 64))))
    val verd = r.verdicts.collect()
      .map(x => (x.getString(0), x.getBoolean(2), x.getAs[Long]("rows"),
        x.getDouble(5))).toList
    val hot = verd.find(_._1 == "42").get
    assert(hot._2 == false && hot._3 == 210L)
    assert(math.abs(hot._4 - 210.0 / 700.0) < 1e-12, s"rate over non-null: $hot")
    val global = verd.find(_._1 == "(global)").get
    assert(global._2 == false && global._3 == 700L)
  }

  test("ExpectedSchema: conforming schema passes with zero violations and zero jobs") {
    val declared = Seq("conv_id" -> "string", "turn_idx" -> "int",
      "role" -> "string", "text" -> "string", "tool" -> "string",
      "ts" -> "timestamp")
    val c = ExpectedSchema(declared, allowExtra = false)
    val mismatches = Validator.schemaMismatches(transcripts, c)
    assert(mismatches.isEmpty, s"conforming schema must have no mismatches: $mismatches")
    // zero-execution proof: a DataFrame that THROWS if any task ever runs
    // still schema-checks fine — the check is pure plan metadata
    val poisoned = spark.range(1)
      .map(_ => sys.error("schema check must not execute tasks"): Long)
      .toDF("id")
    assert(Validator.schemaMismatches(poisoned,
      ExpectedSchema(Seq("id" -> "bigint"))).isEmpty)
    val r = Validator.validate(transcripts, Check("t", Seq(c)), dims)
    val verdict = r.verdicts.where($"constraint" === "expected_schema").collect()
    assert(verdict.length == 1 && verdict(0).getAs[Boolean]("pass"))
    assert(r.violations.where($"constraint" === "expected_schema").count() == 0)
  }

  test("ExpectedSchema: missing / mistyped / undeclared columns each violate") {
    val c = ExpectedSchema(Seq(
      "conv_id" -> "string",
      "turn_idx" -> "bigint",   // actual is int → type mismatch
      "absent" -> "double",     // not in the table → missing
      "role" -> "string", "text" -> "string", "tool" -> "string"),
      allowExtra = false)        // ts undeclared → extra
    val r = Validator.validate(transcripts, Check("t", Seq(c)), dims)
    val viol = r.violations.where($"constraint" === "expected_schema")
      .select("column", "observed", "bound").as[(String, String, String)]
      .collect().toSet
    assert(viol == Set(
      ("turn_idx", "int", "bigint"),
      ("absent", "(missing)", "double"),
      ("ts", "timestamp", "(not declared)")), s"got $viol")
    val verdict = r.verdicts.where($"constraint" === "expected_schema").collect()
    assert(verdict.length == 1 && !verdict(0).getAs[Boolean]("pass") &&
      verdict(0).getAs[Long]("violations") == 3L)
  }

  test("ExpectedSchema: a MISSING declared column short-circuits the suite to the schema verdict") {
    // without the short-circuit, NotNull("gone") would die in analysis
    // with a raw UNRESOLVED_COLUMN before the schema violation surfaced
    val r = Validator.validate(transcripts, Check("t", Seq(
      ExpectedSchema(Seq("conv_id" -> "string", "gone" -> "double")),
      NotNull("gone"), RollingZDrift("gone"))), dims)
    val viol = r.violations.select("column", "observed", "bound")
      .as[(String, String, String)].collect().toSet
    assert(viol == Set(("gone", "(missing)", "double")), s"got $viol")
    val verd = r.verdicts.collect()
    assert(verd.length == 1 && verd(0).getAs[String]("constraint") == "expected_schema"
      && !verd(0).getAs[Boolean]("pass"),
      s"short-circuit must emit ONLY the schema verdict: ${verd.toList}")
  }

  test("ExpectedSchema: a schema-only suite never scans the data") {
    // the poisoned frame throws from any task — validate() must stay
    // metadata-only end-to-end when nothing needs the fused stats pass
    val poisoned = spark.range(3)
      .map(_ => sys.error("schema-only suite must not scan"): Long)
      .toDF("conv_id")
    val r = Validator.validate(poisoned, Check("t",
      Seq(ExpectedSchema(Seq("conv_id" -> "bigint"), allowExtra = false)),
      keyCol = "conv_id", orderCol = "conv_id", tsCol = "conv_id"))
    val verd = r.verdicts.collect() // forces the whole verdict plan
    assert(verd.length == 1 && verd(0).getAs[Boolean]("pass"))
    assert(r.violations.count() == 0)
  }

  test("ExpectedSchema: DDL aliases compare as parsed types; extras tolerated by default") {
    // "integer" == int, complex types parse too
    import org.apache.spark.sql.functions.{array, lit}
    val df = transcripts.withColumn("emb", array(lit(1.0f)))
    val ok = ExpectedSchema(Seq("turn_idx" -> "integer", "emb" -> "array<float>"))
    assert(Validator.schemaMismatches(df, ok).isEmpty)
  }

  // ---- fused sequence pass -------------------------------------------------

  import java.sql.Timestamp
  private def t0(s: String) = Timestamp.valueOf(s)
  private def seqFixture = Seq(
    // c1: user → assistant → assistant (illegal) → user; null role at 4
    ("c1", 0, "user", "hi", t0("2024-01-01 00:00:00"), 1.0),
    ("c1", 1, "assistant", "yo", t0("2024-01-01 00:01:00"), 2.0),
    ("c1", 2, "assistant", "yo", t0("2024-01-01 00:02:00"), 3.0), // repeat text too
    ("c1", 3, "user", "ok", t0("2024-01-01 00:03:00"), 2.5), // value runs back
    ("c1", 4, null, "x", t0("2024-01-01 00:04:00"), 2.5), // null role: no pair checked
    ("c1", 5, "user", "y", t0("2024-01-01 00:05:00"), 2.5), // prev null: not checked
    // c2: opens with assistant (illegal first), then fine
    ("c2", 0, "assistant", "a", t0("2024-01-02 00:00:00"), 1.0),
    ("c2", 1, "user", "b", t0("2024-01-02 00:01:00"), 1.0)) // equal value: ok non-strict
    .toDF("conv_id", "turn_idx", "role", "text", "ts", "value")

  test("AllowedTransitions: illegal pairs, illegal openings, null sides skipped") {
    val r = Validator.validate(seqFixture, Check("t", Seq(
      AllowedTransitions("role",
        Seq("user" -> "assistant", "assistant" -> "user"),
        firstIn = Some(Seq("user"))))))
    val got = r.violations.select("conv_id", "turn_idx", "observed")
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(
      ("c1", 2, "assistant->assistant"),
      ("c2", 0, "assistant")), s"got $got")
    // verdicts: c1 and c2 both fail, c1 attributes 1 violation
    val v = r.verdicts.where(col("constraint").startsWith("transitions(") &&
      !col("pass")).select("partition_key").as[String].collect().toSet
    assert(v == Set("c1", "c2"))
  }

  test("AllowedTransitions without firstIn: openings are never violations") {
    val r = Validator.validate(seqFixture, Check("t", Seq(
      AllowedTransitions("role", Seq("user" -> "assistant",
        "assistant" -> "user", "assistant" -> "assistant")))))
    val got = r.violations.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(got.isEmpty, s"got $got")
  }

  test("Monotonic: non-strict flags decreases only; strict flags ties too") {
    val r = Validator.validate(seqFixture,
      Check("t", Seq(Monotonic("value"))))
    val got = r.violations.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("c1", 3)), s"got $got")
    val rs = Validator.validate(seqFixture,
      Check("t", Seq(Monotonic("value", strict = true))))
    val gotS = rs.violations.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(gotS == Set(("c1", 3), ("c1", 4), ("c1", 5), ("c2", 1)), s"got $gotS")
  }

  test("NoConsecutiveRepeats: flags the stutter; digests, not text, are observed") {
    val r = Validator.validate(seqFixture,
      Check("t", Seq(NoConsecutiveRepeats("text"))))
    val got = r.violations
      .select("conv_id", "turn_idx", "observed")
      .as[(String, Int, String)].collect()
    assert(got.map(g => (g._1, g._2)).toSet == Set(("c1", 2)), s"got ${got.toList}")
    // observed is the md5 of the repeated value, never the payload
    assert(got(0)._3 == org.apache.commons.codec.digest.DigestUtils.md5Hex("yo"))
  }

  test("sequence constraints fuse: ONE exchange serves gap+grammar+order+repeat") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val r = Validator.validate(seqFixture, Check("t", Seq(
        MaxSessionGap(3600L),
        AllowedTransitions("role", Seq("user" -> "assistant")),
        Monotonic("value"),
        NoConsecutiveRepeats("text"))))
      val plan = r.violations.queryExecution.executedPlan
      val plans = plan +: plan.collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan }
      val exchanges = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s })
      assert(exchanges.length == 1,
        s"fused sequence pass must shuffle ONCE, saw ${exchanges.length}")
      // and the exchange carries digests, never the text payload
      val cols = exchanges.flatMap(_.child.output.map(_.name)).toSet
      assert(!cols.contains("text"), s"text rides the exchange: $cols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("FunctionalDependency: conv-keyed FD verdicts per conversation") {
    val df = Seq(
      ("c1", 0, "2024-01-01"), ("c1", 1, "2024-01-02"), // 2 days → violation
      ("c2", 0, "2024-01-01"), ("c2", 1, "2024-01-01"),
      (null, 0, "2024-01-05"), (null, 1, "2024-01-06")) // null determinant: skipped
      .toDF("conv_id", "turn_idx", "day")
    val r = Validator.validate(df, Check("t",
      Seq(FunctionalDependency(Seq("conv_id"), "day")),
      tsCol = "day"))
    val got = r.violations.select("conv_id", "observed")
      .as[(String, String)].collect().toSet
    assert(got == Set(("c1", "2")), s"got $got")
    val verd = r.verdicts.where(col("constraint").startsWith("fd("))
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(verd("c1") == false && verd("c2") == true)
  }

  test("FunctionalDependency: non-keyed determinant verdicts globally") {
    val df = Seq(
      ("c1", 0, "tool_a", "catX"), ("c2", 1, "tool_a", "catY"), // drifts
      ("c3", 2, "tool_b", "catZ"))
      .toDF("conv_id", "turn_idx", "tool", "cat")
    val r = Validator.validate(df, Check("t",
      Seq(FunctionalDependency(Seq("tool"), "cat")),
      tsCol = "tool"))
    val got = r.violations.select("conv_id", "column", "observed")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("(global)", "cat", "2")), s"got $got")
    val verd = r.verdicts.where(col("constraint").startsWith("fd(")).collect()
    assert(verd.length == 1 && verd(0).getAs[String]("partition_key") == "(global)"
      && !verd(0).getAs[Boolean]("pass")
      && verd(0).getAs[Long]("violations") == 1L)
  }

  test("RI key-census tier: same violations as the anti-join tiers; fact never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val expected = result.violations
      .where(col("constraint") === "ref(role->role_dim)")
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val r = Validator.validate(transcripts, Check("t", Seq(
      ReferentialIntegrity("role", "role_dim", "role", keyCensus = true))),
      dims)
    val got = r.violations.select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(expected.nonEmpty && got == expected)
    r.unpersistAll()
    // plan shape: the only exchange is the distinct over KEY VALUES — the
    // fact's full rows (text aboard) never shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val r2 = Validator.validate(transcripts, Check("t", Seq(
        ReferentialIntegrity("role", "role_dim", "role", keyCensus = true))),
        dims)
      val plan = r2.violations.queryExecution.executedPlan
      val plans = plan +: plan.collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan }
      val shuffled = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s.child.output.map(_.name) }.flatten)
      assert(shuffled.forall(_ == "role"), s"non-key columns shuffle: $shuffled")
      r2.unpersistAll()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("RI key-census tier: nullOk=false flags null keys like the anti-join tier") {
    // nulls can't ride the census's broadcast-back equi-join; without the
    // explicit null-branch union the census tier silently PASSED rows the
    // anti-join tier flags — a tier-parity break the DSL forbids
    val df = Seq(
        ("c1", 0, Some("user")),
        ("c1", 1, None),
        ("c2", 0, Some("ghost_role")),
        ("c2", 1, None))
      .toDF("conv_id", "turn_idx", "role")
    def viol(census: Boolean): Set[(String, Int)] = {
      val r = Validator.validate(df, Check("t", Seq(
        ReferentialIntegrity("role", "role_dim", "role", nullOk = false,
          keyCensus = census))), dims)
      val rows = r.violations.where(col("constraint").startsWith("ref("))
        .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
      r.unpersistAll(); rows
    }
    val expected = Set(("c1", 1), ("c2", 0), ("c2", 1))
    assert(viol(census = false) == expected)
    assert(viol(census = true) == expected,
      "census tier must flag the SAME null-key rows as the anti-join tier")
  }

  test("non-key UniqueKey verdicts globally; a duplicate table cannot read all-pass") {
    // msg_id doesn't carry conv_id: duplicates group ACROSS conversations
    // and the violation rows carry conv_id "(global)" — the verdict for
    // the constraint must be the global one that counts them, never
    // per-conversation rows that structurally report 0/pass
    val df = Seq(
        ("c1", 0, "m1"), ("c1", 1, "m2"),
        ("c2", 0, "m1"), // m1 duplicated across conversations
        ("c2", 1, "m3"))
      .toDF("conv_id", "turn_idx", "msg_id")
    val r = Validator.validate(df, Check("u", Seq(UniqueKey(Seq("msg_id")))))
    val v = r.verdicts.where(col("constraint") === "unique(msg_id)")
      .select("partition_key", "pass", "violations").collect()
    // one violation ROW per duplicated key group (m1), counted globally
    assert(v.length == 1 && v(0).getString(0) == "(global)" &&
      !v(0).getBoolean(1) && v(0).getLong(2) == 1L, v.toSeq)
    r.unpersistAll()
  }

  test("IqrOutliers: NaN quantiles degrade to no-signal instead of flagging every row") {
    // >=25% NaN values put q3 in the NaN region (Spark sorts NaN
    // greatest); NaN fences with `v < NaN` would flag EVERY healthy row
    val df = Seq(
        ("c1", 0, 1.0), ("c1", 1, 2.0), ("c1", 2, 3.0),
        ("c2", 0, Double.NaN), ("c2", 1, Double.NaN))
      .toDF("conv_id", "turn_idx", "v")
    val r = Validator.validate(df, Check("i", Seq(
      IqrOutliers("v", approx = false))))
    assert(r.violations.where(col("constraint").startsWith("iqr")).count() == 0,
      "NaN fences must not flag healthy rows")
    r.unpersistAll()
  }

  test("null-key conversation verdicts count their violations under the (null) sentinel") {
    val df = Seq(
        (Some("c1"), 0, Some("user")),
        (None, 0, Some("not_a_role")), // null conv, failing row check
        (None, 1, Some("user")))
      .toDF("conv_id", "turn_idx", "role")
    val r = Validator.validate(df, Check("n", Seq(
      InSet("role", Seq("user", "assistant")))))
    val v = r.verdicts.where(col("partition_key") === "(null)")
      .select("pass", "rows", "violations").collect()
    assert(v.length == 1 && !v(0).getBoolean(0) && v(0).getLong(1) == 2L &&
      v(0).getLong(2) == 1L,
      s"the null-key group must count its violation rows: ${v.toSeq}")
    r.unpersistAll()
  }

  test("RI key-census tier: mass violation falls back to the anti-join, still correct") {
    val expected = result.violations
      .where(col("constraint") === "ref(role->role_dim)")
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    spark.conf.set("spark.graft.ri.censusMaxKeys", "0") // force the fallback
    try {
      val r = Validator.validate(transcripts, Check("t", Seq(
        ReferentialIntegrity("role", "role_dim", "role", keyCensus = true))),
        dims)
      val got = r.violations.select("conv_id", "turn_idx")
        .as[(String, Int)].collect().toSet
      assert(got == expected)
      r.unpersistAll()
    } finally spark.conf.unset("spark.graft.ri.censusMaxKeys")
  }

  test("ContiguousIndex: holes and shifted bases fail; duplicates and nulls don't") {
    val df = Seq(
      ("a", 0), ("a", 1), ("a", 2),   // dense from 0 → pass
      ("b", 0), ("b", 1), ("b", 3),   // interior hole → fail (max 3 ≠ 3−1)
      ("c", 1), ("c", 2),             // missing base → fail (min 1 ≠ 0)
      ("d", 0), ("d", 0), ("d", 1),   // duplicate index only → pass (UniqueKey's finding)
      (null.asInstanceOf[String], 7), // null key → skipped entirely
      ("e", 0)                        // singleton → pass
    ).toDF("conv_id", "turn_idx")
    val r = Validator.validate(df, Check("dense", Seq(ContiguousIndex(0))))
    val bad = r.violations.select("conv_id", "observed")
      .as[(String, String)].collect().toMap
    assert(bad.keySet == Set("b", "c"))
    assert(bad("b") == "min=0,max=3,distinct=3")
    assert(bad("c") == "min=1,max=2,distinct=2")
    // per-conversation verdict: exactly the two offenders fail
    val failed = r.verdicts.where(col("constraint").startsWith("contiguous_index")
      && !col("pass")).select("partition_key").as[String].collect().toSet
    assert(failed == Set("b", "c"))
    r.unpersistAll()
  }

  test("DistributionDrift: shifted current fails observing the PSI; identical passes") {
    val mk = (shift: Double) => (0 until 2000)
      .map(i => (s"c${i % 20}", i / 20, (i % 100).toDouble + shift))
      .toDF("conv_id", "turn_idx", "value")
    val ctx = Validator.Context(Map("ref" -> mk(0.0).select(col("value").as("v"))))
    val same = Validator.validate(mk(0.0), Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.05))), ctx)
    assert(same.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    assert(same.violations
      .where(col("constraint").startsWith("dist_drift")).count() == 0)
    same.unpersistAll()
    // half the mass shifted above the baseline's max → unambiguous drift
    val r = Validator.validate(mk(75.0), Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.05))), ctx)
    val viol = r.violations.where(col("constraint").startsWith("dist_drift"))
    val rows = viol.select("conv_id", "observed", "bound").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "(global)")
    assert(rows(0).getString(1).toDouble > 0.05, rows.mkString(","))
    assert(r.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("pass").as[Boolean].collect().toSeq == Seq(false))
    r.unpersistAll()
  }

  test("DistributionDrift maxKs: KS leg fails on a shift PSI's loose bound misses; both legs can breach") {
    val mk = (shift: Double) => (0 until 2000)
      .map(i => (s"c${i % 20}", i / 20, (i % 100).toDouble + shift))
      .toDF("conv_id", "turn_idx", "value")
    val ctx = Validator.Context(Map("ref" -> mk(0.0).select(col("value").as("v"))))
    // small shift: PSI bound left huge (passes), KS bound tight (fails) —
    // the KS leg sees the CDF separation on its own
    val r = Validator.validate(mk(5.0), Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 1e9,
        maxKs = Some(0.01)))), ctx)
    val viol = r.violations.where(col("constraint").startsWith("dist_drift"))
      .select("observed", "bound").collect()
    assert(viol.length == 1 && viol(0).getString(1).startsWith("ks<="),
      viol.mkString(","))
    assert(viol(0).getString(0).toDouble > 0.01)
    assert(r.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("pass").as[Boolean].collect().toSeq == Seq(false))
    r.unpersistAll()
    // both bounds tight on a big shift: TWO violation rows, one verdict
    val r2 = Validator.validate(mk(75.0), Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.05,
        maxKs = Some(0.05)))), ctx)
    val bounds = r2.violations
      .where(col("constraint").startsWith("dist_drift"))
      .select("bound").as[String].collect().sorted
    assert(bounds.length == 2 && bounds(0).startsWith("ks<=") &&
      bounds(1).startsWith("psi<="), bounds.toSeq)
    assert(r2.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("violations").as[Long].collect().toSeq == Seq(2L))
    r2.unpersistAll()
    // identical sides: KS ~ 0, passes with no rows
    val same = Validator.validate(mk(0.0), Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.05,
        maxKs = Some(0.01)))), ctx)
    assert(same.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    same.unpersistAll()
  }

  test("DistributionDrift: empty baseline is no signal — passes; missing dim throws") {
    val cur = Seq(("a", 0, 1.0), ("a", 1, 2.0)).toDF("conv_id", "turn_idx", "value")
    val ctx = Validator.Context(Map(
      "ref" -> Seq.empty[Double].toDF("v")))
    val r = Validator.validate(cur, Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.0))), ctx)
    assert(r.verdicts.where(col("constraint").startsWith("dist_drift"))
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r.unpersistAll()
    val ex = intercept[IllegalArgumentException] {
      Validator.validate(cur, Check("dd", Seq(
        DistributionDrift("value", "nope", "v"))), ctx)
    }
    assert(ex.getMessage.contains("not registered"))
  }

  test("MaxDuplicateRate: exact rate, normalized folding, null/empty handling") {
    // 4 non-null texts, "hi" repeated once → rate (4-3)/4 = 0.25; null
    // text excluded from both n and distinct
    val df = Seq(("a", 0, "hi"), ("a", 1, "hi"), ("a", 2, "yo"),
        ("b", 0, "bye"), ("b", 1, null: String))
      .toDF("conv_id", "turn_idx", "text")
    val r = Validator.validate(df, Check("dup", Seq(
      MaxDuplicateRate("text", maxRate = 0.3))))
    val v = r.verdicts.where(col("constraint") === "max_dup_rate(text)")
      .select("pass", "violation_rate").collect()
    assert(v.length == 1 && v(0).getBoolean(0) &&
      math.abs(v(0).getDouble(1) - 0.25) < 1e-12, v.mkString(","))
    assert(r.violations.where(col("constraint").startsWith("max_dup_rate"))
      .count() == 0)
    r.unpersistAll()
    // tighter bound fails: ONE global violation row observing the rate
    val r2 = Validator.validate(df, Check("dup", Seq(
      MaxDuplicateRate("text", maxRate = 0.1))))
    val viol = r2.violations
      .where(col("constraint").startsWith("max_dup_rate"))
      .select("conv_id", "observed", "bound").collect()
    assert(viol.length == 1 && viol(0).getString(0) == "(global)" &&
      viol(0).getString(1).toDouble == 0.25 &&
      viol(0).getString(2) == "dup_rate<=0.1", viol.mkString(","))
    r2.unpersistAll()
    // normalized = true folds case/punctuation: replacing one of the two
    // raw "hi"s with "Hi!" keeps the duplicate only under normalization
    // (raw md5 would see 4 distinct texts → rate 0) → (4-3)/4 = 0.25
    val r3 = Validator.validate(df.withColumn("text",
        when(col("turn_idx") === 0 && col("conv_id") === "a", lit("Hi!"))
          .otherwise(col("text"))),
      Check("dup", Seq(MaxDuplicateRate("text", maxRate = 0.0,
        normalized = true))))
    assert(r3.verdicts.where(col("constraint") === "max_dup_rate(text)")
      .select("violation_rate").as[Double].collect().toSeq == Seq(0.25))
    r3.unpersistAll()
    // all-null column: no signal, passes at rate 0
    val r4 = Validator.validate(
      Seq(("a", 0, null: String)).toDF("conv_id", "turn_idx", "text"),
      Check("dup", Seq(MaxDuplicateRate("text"))))
    assert(r4.verdicts.where(col("constraint") === "max_dup_rate(text)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r4.unpersistAll()
  }

  test("MaxDuplicateRate: approx tier agrees with exact on a clean fixture") {
    val df = (0 until 3000).map(i => (s"c${i % 30}", i / 30, s"t${i % 1000}"))
      .toDF("conv_id", "turn_idx", "text")
    val r = Validator.validate(df, Check("dup", Seq(
      MaxDuplicateRate("text", maxRate = 0.9, approx = true))))
    val rate = r.verdicts.where(col("constraint") === "max_dup_rate(text)")
      .select("violation_rate").as[Double].collect()(0)
    // exact rate is (3000-1000)/3000 = 2/3; HLL at default rsd ~1.5%
    assert(math.abs(rate - 2.0 / 3.0) < 0.02, s"approx rate $rate")
    r.unpersistAll()
  }

  test("ContiguousIndex: non-zero base shifts the dense window") {
    val df = Seq(("a", 1), ("a", 2), ("b", 0), ("b", 1))
      .toDF("conv_id", "turn_idx")
    val r = Validator.validate(df, Check("dense1", Seq(ContiguousIndex(1))))
    val bad = r.violations.select("conv_id").as[String].collect().toSet
    assert(bad == Set("b")) // b starts at 0, not the declared base 1
    r.unpersistAll()
  }

  test("Compliance: fails closed on null predicate; per-row and global rate verdicts") {
    val df = Seq(("a", 0, Some(5.0)), ("a", 1, Some(-1.0)),
        ("b", 0, Some(12.0)),  // predicate false
        ("b", 1, None))        // predicate null → fails closed
      .toDF("conv_id", "turn_idx", "value")
    val r = Validator.validate(df, Check("comp", Seq(
      Compliance("v10", "value <= 10", maxFailRate = 0.25))))
    // violation rows: the false row observes "false", the null row null
    val viol = r.violations.where(col("constraint") === "compliance(v10)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2))).toSet
    assert(viol == Set(("b", 0, "false"), ("b", 1, null)), viol)
    // per-conversation rate bound: a (0/2) passes, b (2/2 > 0.25) fails
    val conv = r.verdicts.where(col("constraint") === "compliance(v10)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(conv == Map("a" -> true, "b" -> false), conv)
    // global rate bound: 2/4 = 0.5 > 0.25 → fail, rate observed
    val g = r.verdicts.where(col("constraint") === "compliance(v10)[global]")
      .select("pass", "violations", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 2L &&
      math.abs(g.getDouble(2) - 0.5) < 1e-12, g)
    r.unpersistAll()
    // looser global bound passes the suite globally
    val r2 = Validator.validate(df, Check("comp", Seq(
      Compliance("v10", "value <= 10", maxFailRate = 0.5))))
    assert(r2.verdicts.where(col("constraint") === "compliance(v10)[global]")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r2.unpersistAll()
  }

  test("ParsableAs: unconvertible values violate, nulls don't; rate bounds; bad DDL fails at build") {
    val df = Seq(("a", 0, Some("42")), ("a", 1, Some("1e3")),
        ("b", 0, Some("tool_07")), // not an int
        ("b", 1, None))            // null: NotNull's finding, not ours
      .toDF("conv_id", "turn_idx", "txt")
    val r = Validator.validate(df, Check("p", Seq(
      ParsableAs("txt", "int", maxFailRate = 0.25))))
    val viol = r.violations
      .where(col("constraint") === "parsable(txt as int)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2))).toSet
    // "1e3" is not an INT literal either — both unconvertible rows flag
    assert(viol == Set(("a", 1, "1e3"), ("b", 0, "tool_07")), viol)
    // per-conversation rate: a (1/2 > 0.25) fails, b (1/2 > 0.25) fails
    val conv = r.verdicts.where(col("constraint") === "parsable(txt as int)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(conv == Map("a" -> false, "b" -> false), conv)
    // global: 2/4 = 0.5 > 0.25 → fail with the rate observed
    val g = r.verdicts
      .where(col("constraint") === "parsable(txt as int)[global]")
      .select("pass", "violations", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 2L &&
      math.abs(g.getDouble(2) - 0.5) < 1e-12, g)
    r.unpersistAll()
    // "1e3" IS a double — the double check passes those rows
    val r2 = Validator.validate(df, Check("p", Seq(
      ParsableAs("txt", "double", maxFailRate = 0.25))))
    val viol2 = r2.violations
      .where(col("constraint") === "parsable(txt as double)")
      .select("turn_idx").as[Int].collect().toSeq
    assert(viol2 == Seq(0), s"only tool_07 fails the double cast: $viol2")
    r2.unpersistAll()
    // a typo'd DDL type fails at CONSTRAINT BUILD, not mid-run
    val ex = intercept[IllegalArgumentException](ParsableAs("txt", "integerr"))
    assert(ex.getMessage.contains("integerr"))
    // "a int" parses as a table SCHEMA under fromDDL's fallback — it must
    // refuse here too, not explode later inside expr() context-free
    val ex2 = intercept[IllegalArgumentException](ParsableAs("txt", "a int"))
    assert(ex2.getMessage.contains("a int"))
  }

  test("NoPii: kinds observed (never the text), nulls don't flag, rate bounds, bad kind at build") {
    val df = Seq(
        ("a", 0, Some("mail bob@x.io or call 212-555-0198")),
        ("a", 1, Some("clean prose, nothing sensitive")),
        ("b", 0, Some("card 4111111111111111 charged")), // Luhn-valid
        ("b", 1, Some("order 4111111111111112 shipped")), // Luhn-INVALID
        ("c", 0, None)) // null: NotNull's finding, not ours
      .toDF("conv_id", "turn_idx", "txt")
    val r = Validator.validate(df, Check("pii", Seq(
      NoPii("txt", maxFailRate = 0.25))))
    val viol = r.violations.where(col("constraint") === "no_pii(txt)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2))).toSet
    // observed = matched KIND NAMES in battery order — never the payload
    assert(viol == Set(("a", 0, "email,phone"), ("b", 0, "card")), viol)
    // per-conversation rate: a (1/2 > 0.25) fails, b fails, c (0/1) passes
    val conv = r.verdicts.where(col("constraint") === "no_pii(txt)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(conv == Map("a" -> false, "b" -> false, "c" -> true), conv)
    // global: 2/5 = 0.4 > 0.25 → fail with the rate observed
    val g = r.verdicts.where(col("constraint") === "no_pii(txt)[global]")
      .select("pass", "violations", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 2L &&
      math.abs(g.getDouble(2) - 0.4) < 1e-12, g)
    r.unpersistAll()
    // a narrowed battery only fires its own kinds
    val r2 = Validator.validate(df, Check("pii", Seq(
      NoPii("txt", kinds = Seq("card")))))
    val viol2 = r2.violations.where(col("constraint") === "no_pii(txt)")
      .select("conv_id", "observed").as[(String, String)].collect().toSeq
    assert(viol2 == Seq(("b", "card")), viol2)
    r2.unpersistAll()
    // a typo'd kind fails at CONSTRAINT BUILD, not mid-run
    val ex = intercept[IllegalArgumentException](
      NoPii("txt", kinds = Seq("email", "passport")))
    assert(ex.getMessage.contains("passport"))
    val ex2 = intercept[IllegalArgumentException](
      NoPii("txt", kinds = Seq.empty))
    assert(ex2.getMessage.contains("empty"))
  }

  test("MinTextQuality: low-quality rows flag with the score observed, nulls don't, rate bounds") {
    val junk = "@@@@ !!!! ####"
    val good = "the cat sat on the mat and it is a good day for all of us"
    val df = Seq(
        ("a", 0, Some(good)),
        ("a", 1, Some(junk)),
        ("b", 0, Some(good)),
        ("c", 0, None)) // null: NotNull's finding, not ours
      .toDF("conv_id", "turn_idx", "txt")
    // the observed score must be the ONE shared expression's value
    val expected = df.where(col("turn_idx") === 1)
      .select(graft.text.TextAnalysis.qualityScoreCol(col("txt")))
      .as[Double].collect()(0)
    assert(expected < 0.5, s"fixture junk text must score < 0.5: $expected")
    val r = Validator.validate(df, Check("q", Seq(
      MinTextQuality("txt", minScore = 0.5, maxFailRate = 0.3))))
    val viol = r.violations.where(col("constraint") === "min_quality(txt)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2).toDouble))
    assert(viol.length == 1 && viol(0)._1 == "a" && viol(0)._2 == 1 &&
      math.abs(viol(0)._3 - expected) < 1e-12, viol.toSeq)
    // per-conversation rate: a (1/2 > 0.3) fails, b and c pass
    val conv = r.verdicts.where(col("constraint") === "min_quality(txt)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(conv == Map("a" -> false, "b" -> true, "c" -> true), conv)
    // global: 1/4 = 0.25 <= 0.3 → pass with the rate observed
    val g = r.verdicts.where(col("constraint") === "min_quality(txt)[global]")
      .select("pass", "violations", "violation_rate").collect()(0)
    assert(g.getBoolean(0) && g.getLong(1) == 1L &&
      math.abs(g.getDouble(2) - 0.25) < 1e-12, g)
    r.unpersistAll()
    // an out-of-range floor fails at CONSTRAINT BUILD, not mid-run
    val ex = intercept[IllegalArgumentException](
      MinTextQuality("txt", minScore = 1.5))
    assert(ex.getMessage.contains("1.5"))
  }

  test("LanguageShare: mix bounds from the fused census, no-signal empty, bad lang at build") {
    val en = "the cat is on a mat and it is good for the dog"
    val de = "der hund ist nicht die katze und das auto hier"
    val df = Seq(
        ("a", 0, Some(en)), ("a", 1, Some(en)), ("b", 0, Some(en)),
        ("b", 1, Some(de)),
        ("c", 0, None)) // null text: out of the census
      .toDF("conv_id", "turn_idx", "txt")
    // en share 3/4 < 0.8 → fail observing 0.75; de share 1/4 > 0.1 → fail
    val r = Validator.validate(df, Check("l", Seq(
      LanguageShare("txt", "en", lo = 0.8),
      LanguageShare("txt", "de", hi = 0.1))))
    val viol = r.violations
      .where(col("constraint").startsWith("lang_share"))
      .select("constraint", "observed").collect()
      .map(x => (x.getString(0), x.getString(1).toDouble)).toMap
    assert(viol.keySet == Set("lang_share(txt,en)", "lang_share(txt,de)"),
      viol)
    assert(math.abs(viol("lang_share(txt,en)") - 0.75) < 1e-12 &&
      math.abs(viol("lang_share(txt,de)") - 0.25) < 1e-12, viol)
    val v = r.verdicts.where(col("constraint").startsWith("lang_share"))
      .select("constraint", "pass", "violation_rate").collect()
      .map(x => (x.getString(0), (x.getBoolean(1), x.getDouble(2)))).toMap
    assert(v("lang_share(txt,en)") == ((false, 0.75)) &&
      v("lang_share(txt,de)") == ((false, 0.25)), v)
    r.unpersistAll()
    // a satisfied bound passes
    val r2 = Validator.validate(df, Check("l", Seq(
      LanguageShare("txt", "en", lo = 0.5))))
    assert(r2.verdicts.where(col("constraint") === "lang_share(txt,en)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r2.unpersistAll()
    // empty census (all-null column): "no signal", passes
    val r3 = Validator.validate(df.where(col("txt").isNull), Check("l", Seq(
      LanguageShare("txt", "en", lo = 0.99))))
    assert(r3.verdicts.where(col("constraint") === "lang_share(txt,en)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r3.unpersistAll()
    // a typo'd lang or inverted bounds fail at CONSTRAINT BUILD
    val ex = intercept[IllegalArgumentException](
      LanguageShare("txt", "klingon"))
    assert(ex.getMessage.contains("klingon"))
    val ex2 = intercept[IllegalArgumentException](
      LanguageShare("txt", "en", lo = 0.9, hi = 0.1))
    assert(ex2.getMessage.contains("lo"))
  }

  test("MaxNearDuplicateRate: verified near-dups flag, paraphrases below threshold don't") {
    // c1/0 and c1/1 are near-dups (9 shared shingles of 9 vs 10 → j=0.9);
    // c2/0 shares only a prefix with them (j << 0.7); c2/1 is unrelated;
    // c3/0 is null (excluded from the census)
    val near1 = "the quick brown fox jumps over the lazy dog tonight"
    val near2 = near1 + " again"
    val df = Seq(
        ("c1", 0, Some(near1)),
        ("c1", 1, Some(near2)),
        ("c2", 0, Some("the quick brown cat sleeps all day long here")),
        ("c2", 1, Some("completely different words about spark shuffles")),
        ("c3", 0, None))
      .toDF("conv_id", "turn_idx", "txt")
    val r = Validator.validate(df, Check("nd", Seq(
      MaxNearDuplicateRate("txt", maxRate = 0.1))))
    // 2 of 4 non-null docs have a near-dup → rate 0.5 > 0.1 → fail
    val v = r.violations.where(col("constraint") === "near_dup_rate(txt)")
      .select("observed", "bound").collect()(0)
    assert(math.abs(v.getString(0).toDouble - 0.5) < 1e-12, v)
    val g = r.verdicts.where(col("constraint") === "near_dup_rate(txt)")
      .select("pass", "rows", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 4L &&
      math.abs(g.getDouble(2) - 0.5) < 1e-12, g)
    r.unpersistAll()
    // raising the Jaccard threshold above the pair's 0.9 empties the census
    val r2 = Validator.validate(df, Check("nd", Seq(
      MaxNearDuplicateRate("txt", maxRate = 0.0, threshold = 0.95))))
    assert(r2.verdicts.select("pass").as[Boolean].collect().toSeq ==
      Seq(true))
    r2.unpersistAll()
    // empty census (all-null column) is "no signal" and passes
    val r3 = Validator.validate(df.where(col("txt").isNull), Check("nd", Seq(
      MaxNearDuplicateRate("txt"))))
    assert(r3.verdicts.select("pass").as[Boolean].collect().toSeq ==
      Seq(true))
    r3.unpersistAll()
    // a bands/numHashes mismatch refuses at CONSTRAINT BUILD
    val ex = intercept[IllegalArgumentException](
      MaxNearDuplicateRate("txt", numHashes = 64, bands = 48))
    assert(ex.getMessage.contains("48"))
    // pruning candidates above the verify bar refuses at BUILD too
    val ex2 = intercept[IllegalArgumentException](
      MaxNearDuplicateRate("txt", threshold = 0.3, estJaccardMin = 0.4))
    assert(ex2.getMessage.contains("estJaccardMin"))
  }

  test("MaxNearDuplicateRate: duplicate (key, ord) rows collapse into one doc node") {
    val near1 = "the quick brown fox jumps over the lazy dog tonight"
    val near2 = near1 + " again"
    // (c2, 1) appears TWICE with identical text: one doc node, so the
    // census stays 4 and the rate stays 0.5 — exact copies are
    // UniqueKey's / MaxDuplicateRate's finding, not this one's
    val df = Seq(
        ("c1", 0, near1),
        ("c1", 1, near2),
        ("c2", 0, "the quick brown cat sleeps all day long here"),
        ("c2", 1, "completely different words about spark shuffles"),
        ("c2", 1, "completely different words about spark shuffles"))
      .toDF("conv_id", "turn_idx", "txt")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val r = Validator.validate(df, Check("nd", Seq(
      MaxNearDuplicateRate("txt", maxRate = 0.1))))
    val g = r.verdicts.where(col("constraint") === "near_dup_rate(txt)")
      .select("pass", "rows", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 4L &&
      math.abs(g.getDouble(2) - 0.5) < 1e-12, g)
    r.unpersistAll()
    // the dedup chain's internal persists (signatures, banded pairs,
    // candidate shingles) must not outlive the run — the Result.cached
    // contract holds even though the chain caches behind the pass's back
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"near-dup pass leaked persisted RDDs: $leaked")
  }

  test("MaxStaleness: lag vs asOf, fresh passes, empty no-signal, bad asOf at build") {
    import java.time.LocalDateTime
    val df = Seq(
        ("a", 0, LocalDateTime.parse("2024-03-01T00:00:00")),
        ("a", 1, LocalDateTime.parse("2024-03-01T05:00:00")),
        ("b", 0, LocalDateTime.parse("2024-02-28T12:00:00")))
      .toDF("conv_id", "turn_idx", "ts")
    // newest row is 05:00; asOf 06:00 → lag 3600s > 600s bound → fail
    val r = Validator.validate(df, Check("f", Seq(
      MaxStaleness("ts", "2024-03-01T06:00:00", maxLagSeconds = 600))))
    val v = r.violations.where(col("constraint") === "fresh(ts)")
      .select("observed", "bound").collect()(0)
    assert(math.abs(v.getString(0).toDouble - 3600.0) < 1e-9, v)
    assert(v.getString(1).contains("600s"), v)
    assert(r.verdicts.where(col("constraint") === "fresh(ts)")
      .select("pass").as[Boolean].collect().toSeq == Seq(false))
    r.unpersistAll()
    // a loose bound passes; newer-than-asOf (negative lag) also passes
    val r2 = Validator.validate(df, Check("f", Seq(
      MaxStaleness("ts", "2024-03-01T06:00:00", maxLagSeconds = 7200),
      MaxStaleness("ts", "2024-02-01T00:00:00", maxLagSeconds = 1))))
    assert(r2.verdicts.where(col("constraint") === "fresh(ts)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true, true))
    r2.unpersistAll()
    // empty table: no newest row, "no signal", passes (MinRows' finding)
    val r3 = Validator.validate(df.where(lit(false)), Check("f", Seq(
      MaxStaleness("ts", "2024-03-01T06:00:00", maxLagSeconds = 1))))
    assert(r3.verdicts.select("pass").as[Boolean].collect().toSeq ==
      Seq(true))
    r3.unpersistAll()
    // garbage asOf fails at CONSTRAINT BUILD, not mid-run
    val ex = intercept[IllegalArgumentException](
      MaxStaleness("ts", "yesterday-ish", 60))
    assert(ex.getMessage.contains("yesterday-ish"))
  }

  test("MaxStaleness: lag is wall-clock-true under a non-UTC session timezone") {
    import java.time.LocalDateTime
    // asOf is interpreted in the SESSION zone — the same zone the NTZ→TS
    // cast applies to the column — so the offset cancels: a Tokyo-session
    // consumer must see the same 3600 s wall-clock lag as a UTC one, not
    // a spurious extra 9 h (the old UTC-pinned asOf did exactly that)
    val df = Seq(
        ("a", 0, LocalDateTime.parse("2024-03-01T05:00:00")),
        ("b", 0, LocalDateTime.parse("2024-02-28T12:00:00")))
      .toDF("conv_id", "turn_idx", "ts")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val r = Validator.validate(df, Check("f", Seq(
        MaxStaleness("ts", "2024-03-01T06:00:00", maxLagSeconds = 600),
        MaxStaleness("ts", "2024-03-01T06:00:00", maxLagSeconds = 7200))))
      val v = r.violations.where(col("constraint") === "fresh(ts)")
        .select("observed").collect()
      assert(v.length == 1 &&
        math.abs(v(0).getString(0).toDouble - 3600.0) < 1e-9, v.toSeq)
      assert(r.verdicts.where(col("constraint") === "fresh(ts)")
        .select("pass").as[Boolean].collect().toSeq == Seq(false, true))
      r.unpersistAll()
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("UniquenessBetween / DistinctnessBetween: ratio census, null exclusion, no-signal") {
    // values: a,a,b,c,null → complete rows 4; groups 3; singletons 2 (b,c)
    val df = Seq(("c1", 0, Some("a")), ("c1", 1, Some("a")),
        ("c2", 0, Some("b")), ("c2", 1, Some("c")), ("c3", 0, None))
      .toDF("conv_id", "turn_idx", "v")
    val r = Validator.validate(df, Check("u", Seq(
      UniquenessBetween(Seq("v"), lo = 0.9),          // 2/4 = 0.5 → fail
      DistinctnessBetween(Seq("v"), lo = 0.5, hi = 0.8)))) // 3/4 → pass
    val verdicts = r.verdicts
      .select("constraint", "pass", "rows").collect()
      .map(x => x.getString(0) -> ((x.getBoolean(1), x.getLong(2)))).toMap
    assert(verdicts("uniqueness(v)") == ((false, 4L)))
    assert(verdicts("distinctness(v)") == ((true, 4L)))
    val obs = r.violations.where(col("constraint") === "uniqueness(v)")
      .select("observed").as[String].collect()
    assert(obs.length == 1 && math.abs(obs(0).toDouble - 0.5) < 1e-12, obs.toSeq)
    r.unpersistAll()
    // multi-column tuple: any null component excludes the row
    val r2 = Validator.validate(df, Check("u2", Seq(
      UniquenessBetween(Seq("conv_id", "v"), lo = 0.0, hi = 0.6))))
    // complete tuples: (c1,a)x2,(c2,b),(c2,c) → singletons 2/4 = 0.5 pass
    assert(r2.verdicts.where(!col("pass")).count() == 0)
    r2.unpersistAll()
    // all-null census: no signal, passes
    val r3 = Validator.validate(df.where(col("v").isNull), Check("u3", Seq(
      DistinctnessBetween(Seq("v"), lo = 0.99))))
    assert(r3.verdicts.select("pass").as[Boolean].collect().toSeq == Seq(true))
    r3.unpersistAll()
  }

  test("CorrelationBetween: bound check, NaN scrub, undefined-r no signal") {
    // y = 2x exactly → r = 1; the NaN row must be scrubbed, not poison it
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (Double.NaN, 100.0))
      .toDF("x", "y").withColumn("conv_id", lit("a"))
      .withColumn("turn_idx", lit(0))
    val r = Validator.validate(df, Check("c", Seq(
      CorrelationBetween("x", "y", lo = 0.999, hi = 1.0))))
    assert(r.verdicts.where(col("constraint") === "corr(x,y)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    assert(r.violations.where(col("constraint") === "corr(x,y)").count() == 0)
    r.unpersistAll()
    // anti-correlation fails a positive bound, observing the measured r
    val df2 = Seq((1.0, -1.0), (2.0, -2.0), (3.0, -3.0))
      .toDF("x", "y").withColumn("conv_id", lit("a"))
      .withColumn("turn_idx", lit(0))
    val r2 = Validator.validate(df2, Check("c", Seq(
      CorrelationBetween("x", "y", lo = 0.0, hi = 1.0))))
    val v = r2.violations.where(col("constraint") === "corr(x,y)")
      .select("conv_id", "observed").collect()
    assert(v.length == 1 && v(0).getString(0) == "(global)" &&
      math.abs(v(0).getString(1).toDouble - (-1.0)) < 1e-9, v.mkString(","))
    r2.unpersistAll()
    // constant column → undefined r → no signal, passes even a tight bound
    val df3 = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0))
      .toDF("x", "y").withColumn("conv_id", lit("a"))
      .withColumn("turn_idx", lit(0))
    val r3 = Validator.validate(df3, Check("c", Seq(
      CorrelationBetween("x", "y", lo = 0.9, hi = 1.0))))
    assert(r3.verdicts.where(col("constraint") === "corr(x,y)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r3.unpersistAll()
  }

  test("EntropyBetween: uniform census, collapse detection, empty no signal") {
    // 4 equally-frequent roles → H = ln 4
    val df = (0 until 400).map(i => ("a", i, s"r${i % 4}"))
      .toDF("conv_id", "turn_idx", "role")
    val r = Validator.validate(df, Check("e", Seq(
      EntropyBetween("role", lo = 1.0, hi = 2.0))))
    assert(r.verdicts.where(col("constraint") === "entropy(role)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r.unpersistAll()
    // tighter lo fails, observing H = ln 4 ≈ 1.386294
    val r2 = Validator.validate(df, Check("e", Seq(
      EntropyBetween("role", lo = 1.5, hi = 2.0))))
    val v = r2.violations.where(col("constraint") === "entropy(role)")
      .select("conv_id", "observed").collect()
    assert(v.length == 1 && v(0).getString(0) == "(global)" &&
      math.abs(v(0).getString(1).toDouble - math.log(4.0)) < 1e-9,
      v.mkString(","))
    r2.unpersistAll()
    // collapsed distribution: one value → H = 0 → fails lo = 0.5; nulls
    // are excluded from the census (they are NotNull's finding)
    val df3 = Seq(("a", 0, "r0"), ("a", 1, "r0"),
        ("a", 2, null: String))
      .toDF("conv_id", "turn_idx", "role")
    val r3 = Validator.validate(df3, Check("e", Seq(
      EntropyBetween("role", lo = 0.5))))
    val v3 = r3.violations.where(col("constraint") === "entropy(role)")
      .select("observed").as[String].collect()
    assert(v3.length == 1 && math.abs(v3(0).toDouble) < 1e-12, v3.mkString)
    r3.unpersistAll()
    // all-null column: no census → no signal → passes any bound
    val r4 = Validator.validate(
      Seq(("a", 0, null: String)).toDF("conv_id", "turn_idx", "role"),
      Check("e", Seq(EntropyBetween("role", lo = 99.0))))
    assert(r4.verdicts.where(col("constraint") === "entropy(role)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r4.unpersistAll()
  }

  test("MutualInformationBetween: independence → 0, determinism → H, null pairs skipped") {
    // x and y independent (every (x,y) combination equally frequent) → MI 0
    val ind = (0 until 400).map(i => ("a", i, s"x${i % 4}", s"y${(i / 4) % 5}"))
      .toDF("conv_id", "turn_idx", "x", "y")
    val r = Validator.validate(ind, Check("mi", Seq(
      MutualInformationBetween("x", "y", lo = 0.0, hi = 0.001))))
    assert(r.verdicts.where(col("constraint") === "mutual_info(x,y)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r.unpersistAll()
    // y = f(x) (deterministic) → MI = H(x) = ln 4; a null-side row must be
    // skipped (complete pairs), not crash or shift the census
    val det = (0 until 400).map(i => ("a", i, s"x${i % 4}", s"y${i % 4}"))
      .toDF("conv_id", "turn_idx", "x", "y")
      .union(Seq(("a", 400, null: String, "y0"), ("a", 401, "x0", null: String))
        .toDF("conv_id", "turn_idx", "x", "y"))
    val r2 = Validator.validate(det, Check("mi", Seq(
      MutualInformationBetween("x", "y", lo = 99.0))))
    val v = r2.violations.where(col("constraint") === "mutual_info(x,y)")
      .select("conv_id", "observed").collect()
    assert(v.length == 1 && v(0).getString(0) == "(global)" &&
      math.abs(v(0).getString(1).toDouble - math.log(4.0)) < 1e-9,
      v.mkString(","))
    r2.unpersistAll()
    // empty pair census: no signal → passes any bound
    val r3 = Validator.validate(
      Seq(("a", 0, null: String, "y0")).toDF("conv_id", "turn_idx", "x", "y"),
      Check("mi", Seq(MutualInformationBetween("x", "y", lo = 99.0))))
    assert(r3.verdicts.where(col("constraint") === "mutual_info(x,y)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r3.unpersistAll()
  }

  test("META: every constraint type produces a FAILING verdict on the everything-wrong fixture") {
    // the generalization of the pass-by-omission audits: ONE suite with a
    // deliberately failing instance of EVERY constraint type over one
    // fixture where everything is wrong — a type whose failure does not
    // surface as a pass=false verdict row under its own name fails HERE,
    // not hours into a production run. (TurnRateDrift is the one
    // sanctioned exclusion: its bucketed-series fixture needs ~2 seasonal
    // periods of data and is exercised by q50/q52 + dedicated tests.)
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    def mkts(h: Double) = java.sql.Timestamp.from(
      t0.plusMillis((h * 3600000).toLong))
    val emb = Seq(1.0f, 0.0f)
    val rows = Seq(
      // c1: stutter, PII, unparsable text, value spike, bad role, dup key
      ("c1", 0, "user", "hello world one", null: String, mkts(0), 1.0, emb),
      ("c1", 1, "assistant", "hello world one", null: String, mkts(2), 1.1, emb),
      ("c1", 2, "user", "mail me at a@b.io", null: String, mkts(4), 0.9, emb),
      ("c1", 3, "system", "42x", null: String, mkts(6), 1.05, emb),
      ("c1", 4, "user", "hello world two", null: String, mkts(8), 1000000.0, emb),
      ("c1", 5, "badrole", "short", null: String, mkts(10), 1.0, emb),
      ("c1", 0, "user", "hello world one", null: String, mkts(0), 1.0, emb),
      // c2: index hole (0, 2)
      ("c2", 0, "user", "hello world three", null: String, mkts(1), 2.0, emb),
      ("c2", 2, "tool", "hello world four", "tool_xx", mkts(3), 2.1, emb))
    val df = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
      "value", "emb")
    val blessed = (0 until 10).map(i => 1000.0 + i).toDF("v")
    val roles = Seq("user", "assistant", "system", "tool", "badrole")
    val snaps = roles.flatMap(ro =>
      Seq((ro, mkts(24 * 10)), (ro, mkts(24 * 12))))
      .toDF("role", "valid_from") // all snapshots AFTER every turn
    val metaCtx = Validator.Context(Map(
      "role_dim" -> graft.sources.Tables.roleDim(spark),
      "blessed" -> blessed, "snaps" -> snaps))
    val suite = Seq(
      NotNull("tool"),
      InSet("role", Seq("user")),
      MatchesRegex("text", "^zzz$"),
      ValueBounds("value", None, Some(-1e18)),
      TextEquals("text", lit("nope")),
      ExpectedSchema(Seq("role" -> "int"), allowExtra = true),
      UniqueKey(Seq("conv_id", "turn_idx")),
      ReferentialIntegrity("role", "role_dim", "role"),
      MinRows(10000000L),
      MeanBetween("value", 1e17, 1e18),
      StddevBetween("value", 1e17, 1e18),
      QuantileBetween("value", 0.5, 1e17, 1e18),
      DistinctCountBetween("role", 1000000L, 2000000L),
      MaxKeyShare("conv_id", maxFrac = 0.01), // c1 holds 7/9 of the rows
      GlobalZ("value", 1.5),
      RobustZ("value", 3.5),
      IqrOutliers("value", 2.0),
      RollingZDrift("value", 4, 1.2), // |z| ceiling at w=4 is (w-1)/sqrt(w)=1.5
      MaxSessionGap(1L),
      AllowedTransitions("role", Seq("user" -> "user")),
      Monotonic("value", strict = true),
      NoConsecutiveRepeats("text"),
      FunctionalDependency(Seq("role"), "text"),
      ContiguousIndex(0),
      TurnCountBetween(1000L, 2000L),
      DistributionDrift("value", "blessed", "v", maxPsi = 1e-9),
      MaxDuplicateRate("text", 0.0),
      MaxNearDuplicateRate("text", 0.0, threshold = 0.3, shingleK = 2,
        numHashes = 8, bands = 4, estJaccardMin = 0.1),
      Compliance("nope", "1 = 0"),
      CorrelationBetween("value", "turn_idx", 0.999, 1.0),
      UniquenessBetween(Seq("text"), 1.0, 1.0),
      DistinctnessBetween(Seq("role"), 0.99, 1.0),
      EntropyBetween("role", 50.0, 60.0),
      MutualInformationBetween("role", "text", 50.0, 60.0),
      ParsableAs("text", "int"),
      NoPii("text"),
      MinTextQuality("text", 0.99),
      LanguageShare("text", "de", lo = 0.9),
      ValueShareBetween("role", "user", 0.999, 1.0),
      MaxStaleness("ts", "2030-01-01T00:00:00", 1L),
      TimeBucketCoverage("ts", "hour", 1000000L),
      VectorShape("emb", dim = Some(3)),
      LengthBounds("text", lo = Some(10000L)),
      AsOfIntegrity("role", "snaps", "role", "valid_from", "hour"))
    val r = Validator.validate(df, Check("wrong", suite), metaCtx)
    val failing = r.verdicts.where(!col("pass"))
      .select("constraint").as[String].collect().toSet
    val missing = suite.map(_.name).filterNot(n =>
      failing.exists(f => f == n || f.startsWith(n)))
    assert(missing.isEmpty,
      s"constraint types whose failure never surfaced as a failing " +
        s"verdict: $missing (failing: ${failing.toSeq.sorted})")
    r.unpersistAll()
    // ...and the suite itself covers the WHOLE ADT minus the exclusion
    // (a new constraint type must join the everything-wrong fixture)
    val covered = suite.map(_.getClass.getSimpleName).toSet
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/dsl/Constraints.scala", "UTF-8")
    val declared = try "final case class (\\w+)".r
      .findAllMatchIn(src.mkString).map(_.group(1)).toSet -
      "Check" - "TurnRateDrift"
    finally src.close()
    assert((declared -- covered).isEmpty,
      s"ADT types not in the META suite: ${declared -- covered}")
  }

  test("graded InSet/MatchesRegex/ValueBounds: [global] rate verdicts; rate-0 surface unchanged") {
    val df = (0 until 8).map(i => ("a", i,
        if (i < 2) "bad" else "ok", i.toDouble))
      .toDF("conv_id", "turn_idx", "s", "v")
    val r = Validator.validate(df, Check("g", Seq(
      InSet("s", Seq("ok"), maxFailRate = 0.5),      // 2/8 = 0.25 → pass
      MatchesRegex("s", "^ok$", maxFailRate = 0.1),  // 2/8 = 0.25 → fail
      ValueBounds("v", Some(3.0), None, maxFailRate = 0.9)))) // 3/8 pass
    val g = r.verdicts.where(col("constraint").endsWith("[global]"))
      .select("constraint", "pass", "violations").collect()
      .map(x => x.getString(0) -> ((x.getBoolean(1), x.getLong(2)))).toMap
    assert(g("in_set(s)[global]") == ((true, 2L)), g)
    assert(g("matches(s)[global]") == ((false, 2L)), g)
    assert(g("bounds(v)[global]") == ((true, 3L)), g)
    // the per-conversation verdicts honor the declared rate too
    val conv = r.verdicts.where(col("constraint") === "in_set(s)")
      .select("pass").as[Boolean].collect().toSeq
    assert(conv == Seq(true), conv) // 0.25 <= 0.5 within the conversation
    r.unpersistAll()
    // a rate-0 instance emits NO [global] row — the historical verdict
    // surface (flagship twins, committed goldens) is byte-identical
    val r2 = Validator.validate(df, Check("g0", Seq(InSet("s", Seq("ok")))))
    assert(r2.verdicts
      .where(col("constraint") === "in_set(s)[global]").count() == 0)
    assert(r2.verdicts.where(col("constraint") === "in_set(s)")
      .select("pass").as[Boolean].collect().toSeq == Seq(false))
    r2.unpersistAll()
  }

  test("LengthBounds: tails flag observing the length, nulls don't, rate bounds, build refusals") {
    val df = Seq(
        ("a", 0, Some("ok-length")),   // 9 chars: inside [5, 12]
        ("a", 1, Some("abc")),         // 3 < 5
        ("b", 0, Some("far too long a value")), // 20 > 12
        ("b", 1, None))                // null: NotNull's finding
      .toDF("conv_id", "turn_idx", "txt")
    val r = Validator.validate(df, Check("len", Seq(
      LengthBounds("txt", Some(5L), Some(12L), maxFailRate = 0.5))))
    val viol = r.violations.where(col("constraint") === "length(txt)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => ((x.getString(0), x.getInt(1)), x.getString(2))).toMap
    assert(viol == Map(("a", 1) -> "3", ("b", 0) -> "20"), viol)
    // global rate 2/4 <= 0.5 → pass carrying the true count
    val g = r.verdicts.where(col("constraint") === "length(txt)[global]")
      .select("pass", "violations").collect()(0)
    assert(g.getBoolean(0) && g.getLong(1) == 2L, g)
    r.unpersistAll()
    assert(intercept[IllegalArgumentException](LengthBounds("txt"))
      .getMessage.contains("bound"))
    assert(intercept[IllegalArgumentException](
      LengthBounds("txt", Some(9L), Some(3L))).getMessage.contains("9"))
  }

  test("TimeBucketCoverage: mid-span holes and starved buckets flag; empty column is no signal") {
    // instants (not wall-clock strings) so the fixture is TZ-independent:
    // hours 0 (3 rows), 1 (1 row — starved), 2 (HOLE), 3 (3 rows)
    val base = java.sql.Timestamp
      .from(java.time.Instant.parse("2024-03-01T00:00:00Z"))
    def at(h: Int, m: Int) = new java.sql.Timestamp(
      base.getTime + h * 3600000L + m * 60000L)
    val df = Seq(
        ("a", 0, at(0, 0)), ("a", 1, at(0, 10)), ("a", 2, at(0, 20)),
        ("b", 0, at(1, 5)),
        ("c", 0, at(3, 0)), ("c", 1, at(3, 30)), ("c", 2, at(3, 59)))
      .toDF("conv_id", "turn_idx", "ts")
    val r = Validator.validate(df, Check("cov", Seq(
      TimeBucketCoverage("ts", "hour", minRows = 2L))))
    val v = r.violations.where(col("constraint") === "time_coverage(ts,hour)")
      .select("observed").as[String].collect().toSet
    // the hole surfaces as n=0 — the bucket no groupBy row exists for
    assert(v == Set("2024-03-01 01:00:00 n=1", "2024-03-01 02:00:00 n=0"), v)
    val g = r.verdicts.where(col("constraint") === "time_coverage(ts,hour)")
      .select("pass", "rows", "violations", "violation_rate").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 7L && g.getLong(2) == 2L &&
      math.abs(g.getDouble(3) - 0.5) < 1e-12, g) // 2 of 4 span buckets
    r.unpersistAll()
    // all-null column: no span, no signal → passes
    val r2 = Validator.validate(
      Seq(("a", 0, null: java.sql.Timestamp))
        .toDF("conv_id", "turn_idx", "ts"),
      Check("cov", Seq(TimeBucketCoverage("ts", "hour", 5L))))
    assert(r2.verdicts.where(col("constraint").startsWith("time_coverage"))
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r2.unpersistAll()
    // irregular bucket / zero floor refuse at BUILD
    assert(intercept[IllegalArgumentException](
      TimeBucketCoverage("ts", "month")).getMessage.contains("month"))
    assert(intercept[IllegalArgumentException](
      TimeBucketCoverage("ts", "hour", 0L)).getMessage.contains("0"))
    // span cap: one corrupt epoch-0 timestamp would otherwise walk ~475k
    // driver buckets at hour granularity — past the cap the constraint
    // refuses loudly instead of thrashing the driver (r5 ADVICE/VERDICT)
    spark.conf.set("spark.graft.coverage.maxSpanBuckets", "1000")
    try {
      val corrupt = Seq(("a", 0, at(0, 0)), ("a", 1,
          new java.sql.Timestamp(0L)))
        .toDF("conv_id", "turn_idx", "ts")
      val ex = intercept[IllegalArgumentException](Validator.validate(
        corrupt, Check("cov", Seq(TimeBucketCoverage("ts", "hour", 1L)))))
      assert(ex.getMessage.contains("maxSpanBuckets"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.coverage.maxSpanBuckets")
    // DST guard: day/week buckets refuse under a DST-observing session
    // zone (fixed-step epoch axis would misalign with session-zone
    // truncation); the pinned-UTC mains are unaffected
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ex = intercept[IllegalArgumentException](Validator.validate(
        df, Check("cov", Seq(TimeBucketCoverage("ts", "day", 1L)))))
      assert(ex.getMessage.contains("fixed-offset"), ex.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("ValueShareBetween: mix bounds from the fused census, no-signal empty, bad bounds at build") {
    // 6 user / 2 tool / 2 null over 10 rows → user share 0.75, tool 0.25
    val df = ((0 until 6).map(i => ("a", i, Some("user"))) ++
        Seq(("b", 0, Some("tool")), ("b", 1, Some("tool")),
          ("b", 2, None), ("b", 3, None)))
      .toDF("conv_id", "turn_idx", "role")
    val r = Validator.validate(df, Check("sh", Seq(
      ValueShareBetween("role", "user", lo = 0.8),    // 0.75 < 0.8 → fail
      ValueShareBetween("role", "tool", lo = 0.2, hi = 0.3)))) // 0.25 ok
    val v = r.violations.where(col("constraint") === "share(role,user)")
      .select("conv_id", "observed").collect()
    assert(v.length == 1 && v(0).getString(0) == "(global)" &&
      math.abs(v(0).getString(1).toDouble - 0.75) < 1e-12, v.mkString(","))
    val passes = r.verdicts
      .where(col("constraint").startsWith("share("))
      .select("constraint", "pass").as[(String, Boolean)].collect().toMap
    assert(passes == Map("share(role,user)" -> false,
      "share(role,tool)" -> true), passes)
    r.unpersistAll()
    // all-null census: no signal → passes any bound
    val r2 = Validator.validate(
      Seq(("a", 0, null: String)).toDF("conv_id", "turn_idx", "role"),
      Check("sh", Seq(ValueShareBetween("role", "user", lo = 0.99))))
    assert(r2.verdicts.where(col("constraint") === "share(role,user)")
      .select("pass").as[Boolean].collect().toSeq == Seq(true))
    r2.unpersistAll()
    // impossible bounds refuse at BUILD
    assert(intercept[IllegalArgumentException](
      ValueShareBetween("role", "user", lo = 0.9, hi = 0.1))
      .getMessage.contains("0.9"))
    assert(intercept[IllegalArgumentException](
      ValueShareBetween("role", "user", lo = -0.1))
      .getMessage.contains("-0.1"))
  }

  test("VectorShape: dim/element/norm legs flag with the legs observed; NaN never fires the norm leg") {
    val df = Seq(
        ("a", 0, Some(Seq(0.6f, 0.8f))),       // unit norm, right dim: clean
        ("a", 1, Some(Seq(0.6f, 0.8f, 0.0f))), // wrong dim (norm still fine)
        ("b", 0, Some(Seq(3.0f, 4.0f))),       // norm 5 > hi
        ("b", 1, Some(Seq(Float.NaN, 1.0f))),  // element leg ONLY (NaN guard)
        ("c", 0, Some(Seq(0.0f, 0.0f))),       // zero vector: norm 0 < lo
        ("c", 1, None))                        // null array: NotNull's finding
      .toDF("conv_id", "turn_idx", "emb")
    val r = Validator.validate(df, Check("v", Seq(
      VectorShape("emb", dim = Some(2), normLo = Some(0.5),
        normHi = Some(1.5), maxFailRate = 0.5))))
    val viol = r.violations.where(col("constraint") === "vector_shape(emb)")
      .select("conv_id", "turn_idx", "observed").collect()
      .map(x => ((x.getString(0), x.getInt(1)), x.getString(2))).toMap
    assert(viol.keySet == Set(("a", 1), ("b", 0), ("b", 1), ("c", 0)), viol)
    assert(viol(("a", 1)) == "dim=3", viol)
    assert(viol(("b", 0)) == "norm=5.0", viol)
    // the poisoned vector's norm is NaN — the guard keeps the norm leg out
    assert(viol(("b", 1)) == "element", viol)
    assert(viol(("c", 0)) == "norm=0.0", viol)
    // global rate: 4/6 > 0.5 → fail carrying the true count
    val g = r.verdicts.where(col("constraint") === "vector_shape(emb)[global]")
      .select("pass", "violations").collect()(0)
    assert(!g.getBoolean(0) && g.getLong(1) == 4L, g)
    // per-conversation rates: a 1/2, b 2/2, c 1/2 against 0.5
    val conv = r.verdicts.where(col("constraint") === "vector_shape(emb)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(conv == Map("a" -> true, "b" -> false, "c" -> true), conv)
    r.unpersistAll()
    // build-time refusals: no legs / inverted norms / non-positive dim
    assert(intercept[IllegalArgumentException](VectorShape("emb"))
      .getMessage.contains("leg"))
    assert(intercept[IllegalArgumentException](
      VectorShape("emb", normLo = Some(2.0), normHi = Some(1.0)))
      .getMessage.contains("2.0"))
    assert(intercept[IllegalArgumentException](
      VectorShape("emb", dim = Some(0))).getMessage.contains("positive"))
  }

  test("TurnCountBetween: short and long conversations fail observing the count; null keys skipped") {
    val rows = Seq.tabulate(3)(i => ("a", i)) ++ // 3 turns: below lo
      Seq.tabulate(5)(i => ("b", i)) ++          // 5: in bounds
      Seq.tabulate(9)(i => ("c", i)) ++          // 9: above hi
      Seq((null: String, 0))                     // null key: NotNull's finding
    val df = rows.toDF("conv_id", "turn_idx")
    val r = Validator.validate(df, Check("tc", Seq(TurnCountBetween(4L, 8L))))
    val viol = r.violations.where(col("constraint") === "turn_count(4,8)")
      .select("conv_id", "observed").as[(String, String)].collect().toMap
    assert(viol == Map("a" -> "n=3", "c" -> "n=9"), viol)
    val conv = r.verdicts.where(col("constraint") === "turn_count(4,8)")
      .select("partition_key", "pass").as[(String, Boolean)].collect().toMap
    assert(!conv("a") && conv("b") && !conv("c"), conv)
    r.unpersistAll()
    assert(intercept[IllegalArgumentException](TurnCountBetween(9L, 3L))
      .getMessage.contains("9"))
  }

  test("every global family, graded rate family and MaxKeyShare: rows match the goldens") {
    import graft.Goldens.{committed, render}
    val globals = GlobalFamiliesFixture.suite
    val rated = GlobalFamiliesFixture.rated.map(_.name).toSet
    val r = Validator.validate(GlobalFamiliesFixture.table(spark), globals,
      GlobalFamiliesFixture.context(spark))
    // the fixture makes every constraint fail: the graded rate families
    // on their [global] verdict, the rest on their own
    val failed = r.verdicts.where(!col("pass")).select("constraint")
      .as[String].collect().toSet
    val passing = globals.constraints.map(_.name).filterNot(n =>
      failed(if (rated(n)) s"$n[global]" else n))
    assert(passing.isEmpty, s"fixture should fail: $passing")
    val violations = render(r.violations)
    val verdicts = render(r.verdicts)
    assert(violations == committed("global_families_violations.csv",
      violations))
    assert(verdicts == committed("global_families_verdicts.csv", verdicts))
    r.unpersistAll()
  }

  test("RobustZ: an exact and an approximate instance on one column both use the exact MAD") {
    // with both constraints the shared median is the exact 5, so
    // |v - 5| = 4,3,2,1,1,4,9,35: exact MAD 3.5, approximate 3.0. At
    // threshold 2.0 turn 7 (rz = 0.6745·35/3.5 ≈ 6.7) clears the exact
    // bound; turn 6 (0.6745·9/3.0 ≈ 2.02) would clear only the
    // approximate one
    val df = Seq(1, 2, 3, 4, 6, 9, 14, 40).zipWithIndex
      .map { case (v, i) => ("a", i, v.toDouble) }
      .toDF("conv_id", "turn_idx", "v")
    def flagged(cs: Constraint*): Seq[Int] = {
      val r = Validator.validate(df, Check("rz", cs))
      val turns = r.violations.select("turn_idx").as[Int].collect().toSeq
      r.unpersistAll()
      turns.sorted
    }
    assert(flagged(RobustZ("v", 2.0, approx = false)) == Seq(7))
    assert(flagged(RobustZ("v", 2.0, approx = true)) == Seq(6, 7))
    // together the exact MAD serves both, like the shared median
    assert(flagged(RobustZ("v", 2.0, approx = false),
      RobustZ("v", 2.0, approx = true)) == Seq(7, 7))
  }
}
