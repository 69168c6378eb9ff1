package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Checks of the benchmark's own code that need the JVM, driven by
  * `test_perfbench.py`:
  *
  *   SelfTest g9 <double>...   one `Digest.g9` rendering per line
  *   SelfTest gen <work dir>   one JSON line on the seeded generator
  */
object SelfTest {
  def main(args: Array[String]): Unit = args.toList match {
    case "g9" :: values => values.foreach(v => println(Digest.g9(v.toDouble)))
    case "gen" :: work :: Nil => gen(work)
    case _ => sys.error("usage: SelfTest g9 <double>... | gen <work dir>")
  }

  private def gen(work: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = 303L
    val reference = Gen.rowDigest(TranscriptGen.generate(spark, n))
    val seed42 = Gen.rowDigest(Gen.transcripts(spark, n, 42L))
    def megaIds(seed: Long) = Gen.transcripts(spark, n, seed)
      .groupBy("conv_id").count().where(col("count") >= 400)
      .collect().map(_.getString(0)).toSet
    val other = Gen.transcripts(spark, n, 7L)
    val otherRows = other.count()
    val otherConvs = other.select("conv_id").distinct().count()
    val textOk = other.where(col("text") =!= Gen.textExpr(col("conv_id"), col("turn_idx")))
      .count() == 0
    val shape42 = Gen.profile(Gen.transcripts(spark, n, 42L))
    val shape7 = Gen.profile(other)
    println(Json.render(Map(
      "seed42_equals_generate" -> (seed42 == reference),
      "seed7_rows_equal" -> (otherRows == reference._1),
      "seed7_convs" -> otherConvs, "convs" -> n,
      "seed7_text_closed_form" -> textOk,
      "mega_ids_move" -> (megaIds(42L) != megaIds(7L)),
      "shape_equal" -> (shape42 == shape7))))
    spark.stop()
  }
}
