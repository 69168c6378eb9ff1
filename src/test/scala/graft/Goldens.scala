package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DoubleType

/** Committed row goldens under `src/test/resources/goldens`. Doubles are
  * rendered at 1e-6 (aggregation order across partitions may legally
  * differ in the last ulp); everything else renders verbatim.
  */
object Goldens {

  /** Sorted, stably formatted lines: the byte content of a golden file. */
  def render(df: DataFrame): Seq[String] = {
    val fields = df.schema.fields
    df.collect().map { row =>
      fields.zipWithIndex.map { case (f, i) =>
        if (row.isNullAt(i)) "NULL"
        else f.dataType match {
          // Locale.ROOT: golden bytes must not depend on the host JVM's
          // default locale (comma-decimal locales would corrupt them)
          case DoubleType =>
            "%.6f".formatLocal(java.util.Locale.ROOT, row.getDouble(i))
          case _ => String.valueOf(row.get(i))
        }
      }.mkString(",")
    }.toSeq.sorted
  }

  /** The committed golden `name`'s lines; with `GRAFT_REGEN_GOLDENS=1`
    * the file is first rewritten from `lines`.
    */
  def committed(name: String, lines: Seq[String]): Seq[String] = {
    val path = Paths.get(s"src/test/resources/goldens/$name")
    if (sys.env.get("GRAFT_REGEN_GOLDENS").contains("1"))
      Files.write(path,
        (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    assert(Files.exists(path), s"golden $path missing — regen with " +
      "GRAFT_REGEN_GOLDENS=1")
    new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
  }
}
