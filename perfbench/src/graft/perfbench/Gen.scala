package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Seeded transcript tables for the validate workloads.
  *
  * The rows are `TranscriptGen.generate`'s, relabelled: conversation index
  * `i` becomes `(a * i + b) mod n` for a multiplier `a` coprime to `n` and
  * an offset `b`, both drawn from the seed. Mega-threads, turn-rate bursts
  * and duplicated keys are fixed functions of the original index, so the
  * seed moves WHICH conversations carry them while their number, and the
  * table's size, stay the same. Text is recomputed from the new id with
  * the generator's closed form, so `TextEquals` still holds on every row.
  * Seed 42 (`TranscriptGen.SEED`) is the identity relabelling.
  */
object Gen {

  /** The closed form every generated `text` value equals. */
  def textExpr(convId: Column, turnIdx: Column): Column =
    TranscriptGen.textExpr(convId, turnIdx)

  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  /** (multiplier, offset) of the seed's relabelling of `n` conversations. */
  def relabel(seed: Long, n: Long): (Long, Long) = {
    val d = seed - TranscriptGen.SEED
    val b = Math.floorMod(d * 1000003L, n)
    var a = 1L + Math.floorMod(d * 7919L, math.max(1L, n - 1))
    while (gcd(a, n) != 1) a += 1
    (a, b)
  }

  def transcripts(spark: SparkSession, nConvs: Long, seed: Long): DataFrame = {
    val (a, b) = relabel(seed, nConvs)
    val idx = substring(col("conv_id"), 6, 8).cast("long")
    TranscriptGen.generate(spark, nConvs)
      .withColumn("conv_id", format_string("conv_%08d", pmod(idx * a + b, lit(nConvs))))
      .withColumn("text", textExpr(col("conv_id"), col("turn_idx")))
  }

  /** Order-independent digest of a frame's rows: the sum and xor of a
    * 64-bit hash of every row, plus the row count.
    */
  def rowDigest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")),
      bit_xor(h)).head()
    (r.getLong(0), r.getDecimal(1).longValue, r.getLong(2))
  }

  /** Shape of a generated table: conversations, turns, the share of turns
    * in mega-threads and the share of rows that repeat a key.
    */
  def profile(df: DataFrame, baseTurns: Int = 40): Map[String, Any] = {
    val perConv = df.groupBy("conv_id").agg(count(lit(1)).as("n"))
    val r = perConv.agg(count(lit(1)), sum("n"),
      sum(when(col("n") >= baseTurns * 10, col("n")).otherwise(0L))).head()
    val keys = df.select("conv_id", "turn_idx").distinct().count()
    val turns = r.getLong(1)
    Map("convs" -> r.getLong(0), "turns" -> turns,
      "mega_thread_share" -> r.getLong(2).toDouble / turns,
      "duplicate_share" -> (turns - keys).toDouble / turns)
  }
}
