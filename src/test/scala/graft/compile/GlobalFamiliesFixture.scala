package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dsl._

/** One suite holding every driver-side global family, every graded rate
  * family and MaxKeyShare, over a 24-row fixture on which every one of
  * them fails. Shared by the ValidatorSpec parity case (violation and
  * verdict rows against committed goldens) and the PlanSpec shape gate
  * (one LocalRelation for all global verdict rows).
  */
object GlobalFamiliesFixture {

  private val phrases = Seq(
    "the user asked about the refund policy for the order",
    "the assistant explained how the shipping estimate is computed",
    "please check the invoice total before the payment is sent",
    "the weather report says it will rain over the weekend",
    "our team reviewed the quarterly numbers in the meeting",
    "the library opens early on weekdays and closes at night")

  /** conv c0 is all `user`, c1 all `assistant`, c2 alternates `user` /
    * `tool` (so role depends on conversation: mutual information > 0).
    * Timestamps fill hours 0-1 and 5 only (hours 2-4 are starved).
    */
  def table(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    (0 until 24).map { i =>
      val conv = i / 8
      val minutes = if (i < 12) i * 10L else 240L + i * 5L
      val txt: Option[String] = i match {
        case 3 => None
        case 5 => Some("contact me at bob@example.com about the order please")
        case 7 => Some("!!! ### $$$ %%% ^^^ &&& *** ((( ))) ~~~ ||| +++")
        case 9 => Some(phrases(i % 6) + " and then it went on and on about " +
          "every single detail of the case for a very long time indeed")
        case _ => Some(s"${phrases(i % 6)} number $i")
      }
      val role = conv match {
        case 0 => "user"
        case 1 => "assistant"
        case _ => if (i % 2 == 0) "user" else "tool"
      }
      val x = i - 2.0
      (s"c$conv", i % 8,
        java.sql.Timestamp.from(base.plusSeconds(minutes * 60L)),
        txt, role, x, 2.0 * x + (i % 3) * 0.1,
        if (i % 7 == 0) "abc" else i.toString,
        if (i == 4) Seq(1.0f, 2.0f, 3.0f) else Seq(1.0f, 0.0f))
    }.toDF("conv_id", "turn_idx", "ts", "txt", "role", "x", "y", "code",
      "emb")
  }

  def context(spark: SparkSession): Validator.Context = {
    import spark.implicits._
    Validator.Context(Map("ref" -> (0 until 24).map(i => 1000.0 + i)
      .toDF("v")))
  }

  /** The graded rate families: each carries a failing name[global]
    * verdict.
    */
  val rated: Seq[Constraint] = Seq(
    NotNull("txt", maxNullRate = 0.01),
    Compliance("x_nonneg", "x >= 0", maxFailRate = 0.01),
    ParsableAs("code", "int", maxFailRate = 0.01),
    NoPii("txt", maxFailRate = 0.01),
    MinTextQuality("txt", minScore = 0.3, maxFailRate = 0.01),
    VectorShape("emb", dim = Some(2), maxFailRate = 0.01),
    LengthBounds("txt", hi = Some(80L), maxFailRate = 0.01),
    InSet("role", Seq("user", "assistant"), maxFailRate = 0.01),
    MatchesRegex("code", "^[0-9]+$", maxFailRate = 0.01),
    ValueBounds("y", Some(0.0), Some(40.0), maxFailRate = 0.01))

  val suite: Check = Check("global_families", rated ++ Seq(
    // the driver-side global families and MaxKeyShare
    DistributionDrift("x", "ref", "v", maxPsi = 0.05, maxKs = Some(0.1)),
    MaxDuplicateRate("role"),
    TimeBucketCoverage("ts", "hour", minRows = 2L),
    MaxNearDuplicateRate("txt"),
    CorrelationBetween("x", "y", lo = -1.0, hi = 0.5),
    MaxStaleness("ts", "2024-03-02T00:00:00", maxLagSeconds = 600),
    LanguageShare("txt", "en", lo = 0.0, hi = 0.1),
    ValueShareBetween("role", "user", lo = 0.9, hi = 1.0),
    EntropyBetween("role", lo = 0.0, hi = 0.1),
    UniquenessBetween(Seq("role"), lo = 0.9),
    DistinctnessBetween(Seq("role"), lo = 0.9),
    MutualInformationBetween("conv_id", "role", lo = 0.0, hi = 0.001),
    MaxKeyShare("conv_id", maxFrac = 0.25, k = 8)))
}
