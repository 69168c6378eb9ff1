package graft

import org.apache.spark.sql.functions._

import graft.compile.Validator
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}

/** SURVEY §5 test-plan item 3: the flagship suite's END-TO-END verdict and
  * violation artifacts, committed as goldens and asserted byte-stable under
  * partitioning changes. Any future semantic drift in the suite becomes a
  * visible diff in `src/test/resources/goldens/e2e_*.csv`.
  *
  * Doubles are rendered at 1e-6 (aggregation order across partitions may
  * legally differ in the last ulp); everything else renders verbatim.
  * Regenerate with `GRAFT_REGEN_GOLDENS=1 sbt "testOnly graft.GoldenE2eSpec"`.
  */
class GoldenE2eSpec extends GraftSuite {

  private lazy val fixture =
    TranscriptGen.generate(spark, nConvs = 120, baseTurns = 48)

  private lazy val dims = Validator.Context(Map(
    "role_dim" -> Tables.roleDim(spark),
    "tool_dim" -> Tables.toolDim(spark)))

  // the flagship transcript suite (ValidatorSpec's shape) + the r5
  // declarative session-gap constraint
  private lazy val suite = Check("transcripts", Seq(
    NotNull("conv_id"),
    NotNull("text"),
    UniqueKey(Seq("conv_id", "turn_idx")),
    ReferentialIntegrity("role", "role_dim", "role"),
    ReferentialIntegrity("tool", "tool_dim", "tool"),
    TextEquals("text", TranscriptGen.textExpr(col("conv_id"), col("turn_idx"))),
    MinRows(1000),
    DistinctCountBetween("conv_id", 100, 150),
    MatchesRegex("conv_id", "^conv_[0-9]{8}$"),
    ValueBounds("turn_idx", Some(0), None),
    MaxSessionGap(7200L),
    TurnRateDrift(bucket = "10 minutes", period = 6, method = "stl",
      seasonal = 7, residThreshold = 3.0)))

  private def check(name: String, lines: Seq[String]): Unit =
    assert(lines == Goldens.committed(name, lines), s"$name drifted from " +
      s"the committed golden (${lines.size} lines)")

  test("flagship suite verdicts + violations match the committed goldens") {
    val r = Validator.validate(fixture, suite, dims)
    check("e2e_violations.csv", Goldens.render(r.violations))
    check("e2e_verdicts.csv", Goldens.render(r.verdicts))
    r.unpersistAll()
  }

  test("the artifact is byte-stable under an input repartition") {
    val r7 = Validator.validate(fixture.repartition(7), suite, dims)
    check("e2e_violations.csv", Goldens.render(r7.violations))
    check("e2e_verdicts.csv", Goldens.render(r7.verdicts))
    r7.unpersistAll()
  }
}
