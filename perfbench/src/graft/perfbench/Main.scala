package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Bench, Runner, SparkEntry}
import graft.checkpoint.ResumableValidation
import graft.compile.Validator
import graft.dsl._
import graft.sources.Tables

/** One benchmark run: a workload, a seed, a measuring time, traced or not.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --cores <n> --work <dir> --out <file> --data <dir>
  *     --digests <file> [--record-digests]
  *
  * One client drives the program in a closed loop from this JVM, whose only
  * Spark session is local[cores]. The run generates its inputs from the
  * seed, sets up five times (a fresh session that opens the inputs), runs
  * two untimed warm-up operations on the inputs, then repeats the
  * workload's operation as often as fits in `seconds` at its nominal
  * wall, checking every output.
  * The raw record (every sample, the input shape, the host readings and,
  * when traced, every span with its Spark counters) goes to `--out`;
  * `run.py` reduces it to the reported metrics.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: Path, out: Path, data: String,
      digests: Path, recordDigests: Boolean)

  /** What one timed operation reports. `calls` are the walls of the
    * user-visible calls inside it (queries, resumable legs).
    */
  final case class OpOut(calls: Seq[(String, Double)], writtenBytes: Long,
      attempted: Int, failures: Seq[String], extra: Map[String, Any] = Map.empty)

  trait Workload {
    /** Build the measured inputs and the check references; returns their
      * record.
      */
    def generate(spark: SparkSession): Map[String, Any]
    /** Open the inputs in a new session: the last step of a set-up. */
    def open(spark: SparkSession): Unit
    /** Input size in turns and parquet bytes. */
    def inputTurns: Long
    def inputBytes: Long
    /** Wall of one warm operation on a 4-CPU host, rounded: fixes how many
      * operations a run of `seconds` measures.
      */
    def nominalOpS: Double
    def op(spark: SparkSession, tr: Tracer, i: Int): OpOut
    /** Constraint-alone walls, traced runs only. */
    def probes(spark: SparkSession): Map[String, Double] = Map.empty
  }

  // ---- shared helpers ------------------------------------------------------

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(Files.isRegularFile(_)).toLong

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def dims(spark: SparkSession): Validator.Context = Validator.Context(Map(
    "role_dim" -> Tables.roleDim(spark), "tool_dim" -> Tables.toolDim(spark)))

  /** The bench table as `Bench.runSuite` reads it: the parquet input plus
    * the per-conversation turn gap the rolling-z constraint needs.
    */
  def benchTable(spark: SparkSession, path: String): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    spark.read.parquet(path).withColumn("turn_gap_s",
      (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
        .cast("double"))
  }

  // ---- validate_bulk -------------------------------------------------------

  final class Bulk(o: Opts) extends Workload {
    val convs = 800L
    val nominalOpS = 6.0
    private val path = o.work.resolve("input/bulk").toString
    var inputTurns = 0L
    var inputBytes = 0L
    private var refs: Map[String, Long] = Map.empty

    private val suite = Bench.benchSuite
    private def named[T](pf: PartialFunction[Constraint, T]): T =
      suite.constraints.collectFirst(pf).get

    def open(spark: SparkSession): Unit = spark.read.parquet(path).count()

    def generate(spark: SparkSession): Map[String, Any] = {
      Gen.transcripts(spark, convs, o.seed).write.parquet(path)
      val t = spark.read.parquet(path)
      val shape = Gen.profile(t)
      inputTurns = shape("turns").asInstanceOf[Long]
      inputBytes = dirBytes(Paths.get(path))
      val tools = (0 until 16).map(i => f"tool_$i%02d")
      val r = t.groupBy("conv_id", "turn_idx").agg(count(lit(1)).as("n"),
          first("role").as("role"), first("tool").as("tool"))
        .agg(
          sum(when(!col("role").isin(Tables.validRoles: _*), col("n")).otherwise(0L)),
          sum(when(col("tool").isNotNull && !col("tool").isin(tools: _*), col("n"))
            .otherwise(0L)),
          sum(when(col("n") > 1, 1L).otherwise(0L))).head()
      refs = Map("ri_role" -> r.getLong(0), "ri_tool" -> r.getLong(1),
        "dup_keys" -> r.getLong(2))
      shape ++ Map("name" -> "bulk", "bytes" -> inputBytes, "references" -> refs)
    }

    private def run(spark: SparkSession, tr: Tracer, in: String, out: Path)
        : Unit = {
      val t = benchTable(spark, in)
      val r = tr.span("compile.validate") {
        Validator.validate(t, suite, dims(spark))
      }
      tr.span("compile.materialize") {
        r.violations.write.parquet(out.resolve("violations").toString)
        r.verdicts.write.parquet(out.resolve("verdicts").toString)
      }
      r.unpersistAll()
    }

    def op(spark: SparkSession, tr: Tracer, i: Int): OpOut = {
      val out = o.work.resolve(s"out/op$i")
      val (_, wall) = timed(run(spark, tr, path, out))
      val written = dirBytes(out)
      // output checks, outside the timed call
      val byC = spark.read.parquet(out.resolve("violations").toString)
        .groupBy("constraint").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nVerdicts = spark.read.parquet(out.resolve("verdicts").toString).count()
      def got(c: Constraint) = byC.getOrElse(c.name, 0L)
      val textEq = named { case c: TextEquals => c }
      val riRole = named { case c: ReferentialIntegrity if c.column == "role" => c }
      val riTool = named { case c: ReferentialIntegrity if c.column == "tool" => c }
      val uk = named { case c: UniqueKey => c }
      val fails = Seq(
        (got(textEq) == 0) -> s"text_equals violations ${got(textEq)} != 0",
        (got(riRole) == refs("ri_role")) -> s"RI(role) ${got(riRole)} != filter ${refs("ri_role")}",
        (got(riTool) == refs("ri_tool")) -> s"RI(tool) ${got(riTool)} != filter ${refs("ri_tool")}",
        (got(uk) == refs("dup_keys")) -> s"UniqueKey ${got(uk)} != groupBy ${refs("dup_keys")}",
        (nVerdicts > 0) -> "no verdicts").collect { case (false, msg) => msg }
      deleteTree(out)
      OpOut(Seq("validate" -> wall), written, 1, fails)
    }

    override def probes(spark: SparkSession): Map[String, Double] = {
      val t = benchTable(spark, path)
      val ctx = dims(spark)
      val alone: Seq[(String, Constraint)] = Seq(
        "series.turn_rate_stl_s" -> named { case c: TurnRateDrift => c },
        "series.rolling_z_s" -> named { case c: RollingZDrift => c },
        "text.regex_text_s" -> named { case c: MatchesRegex if c.column == "text" => c },
        "text.text_equals_s" -> named { case c: TextEquals => c },
        "compile.unique_key_s" -> named { case c: UniqueKey => c },
        "compile.ri_role_s" -> named { case c: ReferentialIntegrity if c.column == "role" => c },
        "compile.ri_tool_s" -> named { case c: ReferentialIntegrity if c.column == "tool" => c },
        "agg.distinct_count_s" -> named { case c: DistinctCountBetween => c },
        "agg.quantile_s" -> named { case c: QuantileBetween => c },
        "compile.floor_s" -> named { case c: ValueBounds => c })
      alone.map { case (metric, c) =>
        val (_, wall) = timed {
          val r = Validator.validate(t, Check("probe", Seq(c)), ctx)
          r.violations.count()
          r.verdicts.count()
          r.unpersistAll()
        }
        metric -> wall
      }.toMap
    }
  }

  // ---- validate_resumable --------------------------------------------------

  final class Resumable(o: Opts) extends Workload {
    val convs = 200L
    val nominalOpS = 9.0
    val slices = 2
    private val path = o.work.resolve("input/resumable").toString
    var inputTurns = 0L
    var inputBytes = 0L
    private var expected: (Set[String], Set[String]) = (Set.empty, Set.empty)

    private val suite = Runner.defaultSuite

    /** Row-scoped violations and (partition, constraint, pass) verdicts. */
    private def sets(violations: DataFrame, verdicts: DataFrame)
        : (Set[String], Set[String]) = {
      val v = violations.where(col("turn_idx") >= 0)
      (v.collect().map(r => Digest.cell(r)).toSet,
        verdicts.select("partition_key", "constraint", "pass").collect()
          .map(r => Digest.cell(r)).toSet)
    }

    def open(spark: SparkSession): Unit = spark.read.parquet(path).count()

    def generate(spark: SparkSession): Map[String, Any] = {
      Gen.transcripts(spark, convs, o.seed).write.parquet(path)
      val t = spark.read.parquet(path)
      val shape = Gen.profile(t)
      inputTurns = shape("turns").asInstanceOf[Long]
      inputBytes = dirBytes(Paths.get(path))
      val r = Validator.validate(t, suite, dims(spark))
      expected = sets(r.violations, r.verdicts)
      r.unpersistAll()
      shape ++ Map("name" -> "resumable", "bytes" -> inputBytes,
        "slices" -> slices, "expected_violations" -> expected._1.size,
        "expected_verdicts" -> expected._2.size)
    }

    private def run(spark: SparkSession, tr: Tracer, in: String, ckpt: Path,
        p: Int): (Double, Double, Seq[graft.checkpoint.PartitionMetrics],
          (Set[String], Set[String])) = {
      val df = spark.read.parquet(in)
      val ctx = dims(spark)
      val (first, leg1) = timed(tr.span("checkpoint.leg1") {
        new ResumableValidation(spark, ckpt.toString, p)
          .run(df, suite, ctx, maxPartitionsThisRun = p / 2)
      })
      require(first.isEmpty, s"first leg completed all $p slices")
      val ((vio, ver, metrics), leg2) = timed(tr.span("checkpoint.leg2") {
        new ResumableValidation(spark, ckpt.toString, p).run(df, suite, ctx).get
      })
      val (got, collect) = timed(tr.span("checkpoint.collect")(sets(vio, ver)))
      (leg1, leg2 + collect, metrics, got)
    }

    def op(spark: SparkSession, tr: Tracer, i: Int): OpOut = {
      val ck = o.work.resolve(s"ckpt/op$i")
      val (leg1, leg2, metrics, got) = run(spark, tr, path, ck, slices)
      val written = dirBytes(ck)
      val stateBytes = (0 until slices)
        .map(p => dirBytes(ck.resolve(s"partitions/p=$p/state"))).sum
      val files = dirFiles(ck)
      val fails = Seq(
        (metrics.size == slices) -> s"${metrics.size} slice metrics for $slices slices",
        (got._1 == expected._1) -> s"violations differ from one-shot (${got._1.size} vs ${expected._1.size})",
        (got._2 == expected._2) -> s"verdicts differ from one-shot (${got._2.size} vs ${expected._2.size})")
        .collect { case (false, msg) => msg }
      deleteTree(ck)
      OpOut(Seq("leg1" -> leg1, "leg2" -> leg2), written, 1, fails,
        Map("slice_wall_s" -> metrics.map(_.wallMs / 1000.0),
          "state_bytes" -> stateBytes, "files_written" -> files))
    }
  }

  // ---- query_surface -------------------------------------------------------

  /** The measured queries and the module each one exercises: four of the
    * ROADMAP targets and one query for each module only this workload
    * reaches. The other eight targets are left out so a run fits the
    * benchmark's time budget; see README.md.
    */
  val surface: Seq[(String, String)] = Seq(
    "q47_sliced_violation_union" -> "compile",
    "q93_parsable_violations" -> "compile",
    "q90_mutual_information" -> "compile",
    "q40_minhash_lsh" -> "dedup",
    "q53_mahalanobis_outliers" -> "ml",
    "q60_ann_ivf" -> "ann",
    "q67_asof_versions" -> "join",
    "q74_pack_assign" -> "pack",
    "q83_snapshot_diff" -> "diff")

  final class Queries(o: Opts) extends Workload {
    val nominalOpS = 6.5
    var inputTurns = 0L
    var inputBytes = 0L
    private val order = new scala.util.Random(o.seed).shuffle(surface.map(_._1))
    private val expected: Map[String, String] =
      if (o.recordDigests || !Files.exists(o.digests)) Map.empty
      else "\"(q[^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
        .findAllMatchIn(Files.readString(o.digests))
        .map(m => m.group(1) -> m.group(2)).toMap
    val recorded = scala.collection.mutable.Map[String, String]()

    def open(spark: SparkSession): Unit = Tables.events(spark, o.data).count()

    def generate(spark: SparkSession): Map[String, Any] = {
      inputTurns = Tables.events(spark, o.data).count()
      inputBytes = dirBytes(Paths.get(o.data))
      Map("name" -> "sf0.001", "turns" -> inputTurns, "bytes" -> inputBytes,
        "order" -> order)
    }

    private def runQuery(spark: SparkSession, q: String, out: Path): Unit = {
      spark.catalog.clearCache()
      SparkEntry.queries(q)(spark, o.data).write.parquet(out.toString)
    }

    def op(spark: SparkSession, tr: Tracer, i: Int): OpOut = {
      val module = surface.toMap
      val walls = order.map { q =>
        val out = o.work.resolve(s"out/op$i/$q")
        val (_, wall) = timed(tr.span(s"${module(q)}.$q")(runQuery(spark, q, out)))
        q -> wall
      }
      val written = dirBytes(o.work.resolve(s"out/op$i"))
      val fails = order.flatMap { q =>
        val df = spark.read.parquet(o.work.resolve(s"out/op$i/$q").toString)
        val d = Digest.sha256(df.columns.toSeq, df.collect().toSeq)
        recorded(q) = d
        expected.get(q) match {
          case Some(e) if e == d => None
          case Some(e) => Some(s"$q digest $d != recorded $e")
          case None if o.recordDigests => None
          case None => Some(s"$q has no recorded digest")
        }
      }
      deleteTree(o.work.resolve(s"out/op$i"))
      OpOut(walls, written, order.size, fails)
    }
  }

  // ---- the run -------------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      Paths.get(need("out")), need("data"), Paths.get(need("digests")),
      args.contains("--record-digests"))
  }

  def newSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", o.work.resolve("spark_local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def processCpuS: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  def host(cores: Int): Map[String, Any] = Map(
    "loadavg" -> java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage,
    "mem_bw_mb_s" -> Bench.memBandwidthProbe(cores))

  def peakRssMb: Double = Files.readAllLines(Paths.get("/proc/self/status"))
    .asScala.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))

  /** Wait (at most 3 s) until the JIT compilers have been idle for 200 ms,
    * so the first measured operation does not share the CPUs with
    * compilations queued by the warm-up operation.
    */
  def jitQuiet(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(200)
    }
  }

  /** One operation of `w`, timed and checked, as its raw record. */
  def runOp(o: Opts, spark: SparkSession, w: Workload, traced: Boolean, i: Int)
      : Map[String, Any] = {
    val tr = new Tracer(spark.sparkContext, traced, s"${o.workload}-${o.seed}-op$i")
    val c0 = processCpuS
    val ts0 = System.nanoTime()
    val res = Try(w.op(spark, tr, i))
    val wall = (System.nanoTime() - ts0) / 1e9
    val cpu = processCpuS - c0
    val trace = tr.finish()
    res match {
      case Success(r) =>
        r.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
        Map("traced" -> traced, "cpu_s" -> cpu, "calls" -> r.calls.map {
            case (n, s) => Map("name" -> n, "wall_s" -> s) },
          "wall_s" -> r.calls.map(_._2).sum, "op_wall_s" -> wall,
          "written_bytes" -> r.writtenBytes, "attempted" -> r.attempted,
          "failed" -> math.min(r.attempted, r.failures.size),
          "failures" -> r.failures, "trace" -> trace) ++ r.extra
      case Failure(e) =>
        e.printStackTrace()
        Map("traced" -> traced, "cpu_s" -> cpu, "calls" -> Nil,
          "wall_s" -> wall, "op_wall_s" -> wall, "written_bytes" -> 0L,
          "attempted" -> 1, "failed" -> 1, "failures" -> Seq(e.toString),
          "trace" -> trace)
    }
  }

  private val t0Main = System.nanoTime()
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - t0Main) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = o.workload match {
      case "validate_bulk" => new Bulk(o)
      case "validate_resumable" => new Resumable(o)
      case "query_surface" => new Queries(o)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, five times: a session is created and the inputs opened.
    // The first round runs from JVM start; generating the inputs happens
    // inside it but is timed on its own.
    var spark = newSession(o)
    val sessionReady = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (input, generateS) = timed(w.generate(spark))
    phase("inputs generated")
    val setup = (0 until 5).map { round =>
      if (round > 0) { spark.stop(); spark = null }
      val (_, s) = timed {
        if (spark == null) spark = newSession(o)
        w.open(spark)
      }
      phase(s"setup round $round")
      if (round == 0) sessionReady + s else s
    }
    // two untimed operations on the measured inputs: the JIT compilers
    // are still busy through the first (its process CPU is half again
    // that of a later one)
    val (_, warmUpS) = timed((1 to 2).foreach { k =>
      val warm = w.op(spark, new Tracer(spark.sparkContext, false, ""), -k)
      warm.failures.foreach(f => System.err.println(s"[perfbench] warm-up check failed: $f"))
      phase(s"warm-up operation $k")
    })

    jitQuiet()
    val hostBefore = host(o.cores)
    // closed loop, one operation after another. Their number follows
    // from `seconds` and the nominal operation wall, never from the host's
    // speed: operations keep getting faster long after the warm-up, so a
    // count that grew on a fast host would also move the median down the
    // curve. At least two; a traced run makes at least four.
    val n = math.max(if (o.trace) 4 else 2, (o.seconds / w.nominalOpS).toInt)
    val ops = (0 until n).map { i =>
      // a traced run orders its operations untraced, traced, traced,
      // untraced, so the warm-up still fading over the first operations
      // weighs the same on both sides of the tracing overhead
      val op = runOp(o, spark, w, o.trace && (i % 4 == 1 || i % 4 == 2), i)
      phase(s"op $i")
      op
    }
    val hostAfter = host(o.cores)

    val probes = if (o.trace) w.probes(spark) else Map.empty[String, Double]
    // a traced validate_bulk run also measures the resumable write path
    // once, traced, on its own input: the checkpoint.* layer
    val resumable = w match {
      case _: Bulk if o.trace =>
        val r = new Resumable(o)
        val rin = r.generate(spark)
        Some(rin ++ Map("input_turns" -> r.inputTurns, "input_bytes" -> r.inputBytes,
          "op" -> runOp(o, spark, r, true, 0)))
      case _ => None
    }
    phase("done")
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "seconds" -> o.seconds, "trace" -> o.trace,
      "input" -> input, "input_turns" -> w.inputTurns,
      "input_bytes" -> w.inputBytes, "generate_s" -> generateS,
      "warm_up_s" -> warmUpS,
      "setup_s" -> setup, "ops" -> ops, "probes" -> probes,
      "resumable" -> resumable,
      "peak_rss_mb" -> peakRssMb,
      "host" -> Map("before" -> hostBefore, "after" -> hostAfter))
    Files.writeString(o.out, Json.render(record))
    w match {
      case q: Queries if o.recordDigests =>
        Files.writeString(o.digests, Json.render(
          scala.collection.immutable.TreeMap(q.recorded.toSeq: _*)) + "\n")
      case _ =>
    }
    spark.stop()
  }
}
