package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.{StatsState, Validator}
import graft.dsl.Check

/** Snapshot-pinned, per-partition-resumable validation runs.
  *
  * The reference keeps "models" in a driver dict and has no resume story
  * (src/main_analysis.py:59; OOM documented as a failure mode). At 10^12
  * turns a run MUST survive restarts, so:
  *
  *  - [[SnapshotTable]] pins the exact input file set (Iceberg-snapshot
  *    semantics over plain parquet; a real Iceberg catalog drops in behind
  *    the same trait — we pin files instead of a snapshot id).
  *  - The conv-id space is hash-split into `partitions` slices;
  *    conversations never straddle slices, so per-conversation constraints
  *    (uniqueness, RI, drift, rolling-z) are exact per slice.
  *  - The input is staged ONCE into a directory-per-slice layout
  *    (`staging/__slice=p/`), so each slice — and each RESUME — reads only
  *    its own files via partition pruning instead of rescanning the full
  *    table per slice (one read + one write total, vs P full scans).
  *  - Each slice writes violations/verdicts/metrics + a mergeable
  *    [[StatsState]] (counters, min/max, t-digest, HLL) then an atomic
  *    _DONE marker. Restart skips _DONE slices; aggregate verdicts come
  *    from the commutative union of slice states — no rescan.
  */
object SnapshotTable {
  /** Pin the current file set of a parquet dir into a manifest. */
  def pin(spark: SparkSession, dataDir: String, manifestPath: String): Seq[String] = {
    val files = spark.read.parquet(dataDir).inputFiles.sorted.toSeq
    val json = files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString(s"""{"count": ${files.size}, "files": [""", ",", "]}")
    Files.createDirectories(Paths.get(manifestPath).getParent)
    Files.write(Paths.get(manifestPath), json.getBytes(StandardCharsets.UTF_8))
    files
  }

  /** Parse every JSON string literal in `json` (with escape handling) —
    * a minimal but CORRECT reader for the manifest pin() writes: file
    * paths survive quotes/backslashes, and nothing is silently dropped.
    */
  private[checkpoint] def jsonStrings(json: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < json.length) {
      if (json.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < json.length && !closed) {
          json.charAt(i) match {
            case '\\' if i + 1 < json.length =>
              sb.append(json.charAt(i + 1) match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case c => c // covers \" \\ \/
              })
              i += 2
            case '"' => closed = true; i += 1
            case c => sb.append(c); i += 1
          }
        }
        out += sb.result()
      } else i += 1
    }
    out.result()
  }

  /** Read exactly the pinned files — late-arriving files are invisible,
    * so a resumed run sees the same rows the first attempt saw. Fails
    * loudly if the manifest's stated count differs from the files parsed
    * (a corrupt manifest must never silently shrink the input).
    */
  def read(spark: SparkSession, manifestPath: String): DataFrame = {
    val json = new String(Files.readAllBytes(Paths.get(manifestPath)),
      StandardCharsets.UTF_8)
    val strings = jsonStrings(json)
    val files = strings.filterNot(s => s == "files" || s == "count")
    val stated = """"count"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
    stated.foreach { n =>
      require(files.size == n,
        s"manifest $manifestPath pinned $n files but ${files.size} parsed — refusing to run on a partial input")
    }
    spark.read.parquet(files: _*)
  }
}

final case class PartitionMetrics(partition: Int, rows: Long, violations: Long,
    constraintsEvaluated: Int, wallMs: Long)

class ResumableValidation(spark: SparkSession, checkpointDir: String,
    partitions: Int) {

  private def pDir(p: Int) = s"$checkpointDir/partitions/p=$p"
  private def doneMarker(p: Int) = Paths.get(s"${pDir(p)}/_DONE")
  def isDone(p: Int): Boolean = Files.exists(doneMarker(p))

  private def stagingDir = s"$checkpointDir/staging"
  private def stagingDone = Paths.get(s"$stagingDir/_SUCCESS")

  /** Stage the input ONCE into a directory per slice: a single read+write
    * pass; afterwards every slice (including on resume) prunes to its own
    * files. Idempotent — an interrupted staging write is redone (no _SUCCESS).
    */
  private def stagingParts = Paths.get(s"$stagingDir/_PARTITIONS")

  private def stage(df: DataFrame, check: Check): DataFrame = {
    if (!Files.exists(stagingDone)) {
      df.withColumn("__slice",
          pmod(xxhash64(col(check.keyCol)), lit(partitions)).cast("int"))
        .write.mode("overwrite").partitionBy("__slice").parquet(stagingDir)
      // record the slice count the data was hashed into: a resume with a
      // DIFFERENT `partitions` would otherwise silently skip (smaller) or
      // never finish (larger) the staged slices
      Files.writeString(stagingParts, partitions.toString)
    } else requireStagedPartitions()
    spark.read.parquet(stagingDir)
  }

  /** A resume must use the slice count the data was hashed into. Staged
    * data with NO _PARTITIONS record (a crash between the parquet commit
    * and recording the count) REFUSES rather than silently accepting any
    * `partitions` — a smaller resume would complete while never
    * validating the tail slices.
    */
  private def requireStagedPartitions(): Unit =
    if (Files.exists(stagingDone)) {
      require(Files.exists(stagingParts),
        s"checkpoint at $checkpointDir has staged data but no _PARTITIONS " +
          "record (staging was interrupted after the parquet commit) — " +
          "delete the staging dir and restart")
      val staged = Files.readString(stagingParts).trim.toInt
      require(staged == partitions,
        s"checkpoint at $checkpointDir was staged with partitions=$staged; " +
          s"resume with that value (got $partitions)")
    }

  /** Run (or resume) the suite. Returns Some(violations, verdicts, metrics)
    * when all partitions are done; None if `maxPartitionsThisRun` stopped
    * the run early (kill-after-k simulation / budgeted incremental runs).
    */
  def run(df: DataFrame, check: Check,
      ctx: Validator.Context = Validator.Context(),
      withStatsState: Boolean = true,
      maxPartitionsThisRun: Int = Int.MaxValue)
      : Option[(DataFrame, DataFrame, Seq[PartitionMetrics])] = {
    // the aggregate-level constraints are stripped from every slice and
    // re-evaluated from merged state at the end — running without state
    // would silently drop their verdicts (pass-by-omission)
    require(withStatsState || !check.constraints.exists(aggregateLevel),
      "check has aggregate-level constraints: withStatsState=false would drop their verdicts")
    requireDistinctRateNames(check)
    // fires even when every slice under the NEW count looks done (a
    // resume at partitions=4 of an 8-slice staging must not "complete")
    requireStagedPartitions()
    // schema drift short-circuit, matching the direct Validator path: a
    // MISSING declared column would otherwise crash some slice mid-run
    // with a raw UNRESOLVED_COLUMN (slices strip ExpectedSchema, so the
    // schema verdict would never surface). Pure plan metadata — costs
    // nothing and stages nothing.
    val schemaCs = check.constraints.collect {
      case c: graft.dsl.ExpectedSchema => c }
    if (schemaCs.exists(c =>
        Validator.schemaMismatches(df, c).exists(_._2 == "(missing)"))) {
      val r = Validator.validate(df, check.copy(constraints = schemaCs), ctx)
      return Some((r.violations, r.verdicts, Seq.empty))
    }
    val todo = (0 until partitions).filterNot(isDone).take(maxPartitionsThisRun)
    val staged = if (todo.nonEmpty) stage(df, check) else null
    todo.foreach { p =>
      val t0 = System.nanoTime()
      // partition pruning: only staging/__slice=p files are read
      val slice = staged.where(col("__slice") === p).drop("__slice")
      val r = Validator.validate(slice, sliceCheck(check), ctx)
      val violations = r.violations
      violations.write.mode("overwrite").parquet(s"${pDir(p)}/violations")
      r.verdicts.write.mode("overwrite").parquet(s"${pDir(p)}/verdicts")
      if (withStatsState && StatsState.statedColumns(check).nonEmpty)
        StatsState.compute(slice, check).write.mode("overwrite")
          .parquet(s"${pDir(p)}/state")
      val rows = slice.count()
      val nViol = violations.count()
      r.unpersistAll()
      val wall = (System.nanoTime() - t0) / 1000000
      import spark.implicits._
      // the count the slice ACTUALLY evaluated — aggregate/global-scoped/
      // schema constraints are stripped by sliceCheck and run elsewhere
      Seq(PartitionMetrics(p, rows, nViol,
        sliceCheck(check).constraints.size, wall)).toDF()
        .write.mode("overwrite").parquet(s"${pDir(p)}/metrics")
      // atomic completion marker — written last
      Files.createDirectories(doneMarker(p).getParent)
      Files.write(doneMarker(p), Array.emptyByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    if ((0 until partitions).forall(isDone))
      Some(collectResults(check, Some((df, ctx))))
    else None
  }

  /** collectResults re-aggregates the rate-bound [global] verdicts BY
    * NAME — two same-named constraints (two Compliance rules sharing a
    * label, two NotNull on one column) would merge into one verdict and
    * could flip a fail to a pass. Refuse up front (in run() AND in direct
    * collectResults calls); renaming is free.
    */
  private def requireDistinctRateNames(check: Check): Unit = {
    // rate-0 hard-fail instances emit no [global] rows and keep their
    // historical freedom to share a column
    val rateNames = rated(check).map(_.name)
    val dups = rateNames.groupBy(identity).collect {
      case (n, occ) if occ.size > 1 => n }
    require(dups.isEmpty,
      s"resumable runs need distinct names for rate-bound constraints; " +
        s"duplicates: ${dups.mkString(", ")} (rename the labels/columns)")
  }

  /** The row checks whose slices each emit a `name[global]` rate verdict
    * — the validator's one definition ([[Validator.StatelessCheck]]).
    */
  private def rated(check: Check): Seq[Validator.StatelessCheck] =
    Validator.compileStateless(check.constraints).filter(_.globalRate)

  /** Aggregate-level constraints: stripped from every slice and evaluated
    * from the merged [[StatsState]] at the end (their per-slice answers
    * would be wrong).
    */
  private def aggregateLevel(c: graft.dsl.Constraint): Boolean = c match {
    case _: graft.dsl.MinRows | _: graft.dsl.MeanBetween |
         _: graft.dsl.StddevBetween | _: graft.dsl.QuantileBetween |
         _: graft.dsl.DistinctCountBetween => true
    case _ => false
  }

  /** Global-SCOPED statistical constraints: their verdict is a claim about
    * the WHOLE table, and the conversation-hash slicing gives each slice a
    * different (wrong) answer — entropy of one slice is not the table's
    * entropy, a duplicate value or FD-violating determinant group can span
    * slices. These are stripped from every slice and evaluated ONCE
    * against the full pinned input at completion (the ExpectedSchema
    * pattern) — each is a single aggregation-class pass, so the resumed
    * run's expensive row-level work still never repeats.
    * A UniqueKey / FunctionalDependency whose key tuple carries the
    * conversation key IS slice-safe (hash staging keeps a conversation's
    * rows together) and stays in the slices.
    *
    * The statistical ROW-FLAG families (GlobalZ / RobustZ / IqrOutliers)
    * deliberately stay in the slices and compute their stats
    * slice-locally: their verdicts are per-conversation rate claims (not
    * whole-table claims), re-deriving whole-table stats at completion
    * would cost a second full scan — the one thing the resumable path
    * exists to avoid — and the conversation-hash slicing is an unbiased
    * sample, so slice stats converge on table stats at any real slice
    * size. The divergence from a direct validate() is confined to rows
    * within ~1/sqrt(slice rows) of the threshold; route a suite where
    * that band matters to the direct path.
    */
  private def globalScoped(check: Check)(c: graft.dsl.Constraint): Boolean =
    c match {
      case _: graft.dsl.EntropyBetween |
           _: graft.dsl.MutualInformationBetween |
           _: graft.dsl.CorrelationBetween |
           _: graft.dsl.MaxDuplicateRate |
           _: graft.dsl.DistributionDrift |
           _: graft.dsl.UniquenessBetween |
           _: graft.dsl.DistinctnessBetween |
           _: graft.dsl.MaxStaleness |
           _: graft.dsl.MaxNearDuplicateRate |
           _: graft.dsl.LanguageShare |
           _: graft.dsl.ValueShareBetween |
           _: graft.dsl.TimeBucketCoverage |
           _: graft.dsl.MaxKeyShare => true
      case fd: graft.dsl.FunctionalDependency =>
        !fd.determinant.contains(check.keyCol)
      case u: graft.dsl.UniqueKey => !u.columns.contains(check.keyCol)
      case _ => false
    }

  /** Per-slice check: aggregate-level constraints are evaluated from the
    * merged state at the end; global-scoped statistical constraints run
    * once at completion; everything conversation-scoped stays.
    */
  private def sliceCheck(check: Check): Check = check.copy(
    constraints = check.constraints.filterNot {
      case c if aggregateLevel(c) => true
      // table-global schema conformance: evaluated ONCE in run() against
      // the full input — per-slice evaluation would union P duplicate
      // "(global)" verdicts and P copies of every schema violation row
      case _: graft.dsl.ExpectedSchema => true
      case c => globalScoped(check)(c)
    })

  /** Union per-partition outputs + merge states → global results.
    *
    * `fullInput`: the pinned input (and dim context) for the constraints
    * that must evaluate ONCE against the whole table — ExpectedSchema and
    * the global-scoped statistical constraints stripped from every slice.
    * When the check contains any of those, calling without it REFUSES
    * rather than silently omitting their verdicts (pass-by-omission is
    * the one unforgivable failure mode of a validation engine).
    */
  def collectResults(check: Check,
      fullInput: Option[(DataFrame, Validator.Context)] = None)
      : (DataFrame, DataFrame, Seq[PartitionMetrics]) = {
    import spark.implicits._
    requireDistinctRateNames(check)
    val finalCs = check.constraints.filter {
      case _: graft.dsl.ExpectedSchema => true
      case c => globalScoped(check)(c)
    }
    require(finalCs.isEmpty || fullInput.nonEmpty,
      "check has schema/global-scoped constraints (" +
        finalCs.map(_.name).mkString(", ") + ") that evaluate once against " +
        "the full input — pass fullInput, or their verdicts would be " +
        "silently omitted")
    val done = (0 until partitions).filter(isDone)
    require(done.size == partitions,
      s"only ${done.size}/$partitions partitions done — resume with run()")
    val violations = spark.read.parquet(done.map(p => s"${pDir(p)}/violations"): _*)
    val sliceVerdicts =
      spark.read.parquet(done.map(p => s"${pDir(p)}/verdicts"): _*)
    // the rate-bound row checks stay in the slices for their row-level
    // work, but each slice also emits a "name[global]" rate verdict over
    // ITS rows — P slice-local rows are not a global claim. Their counts
    // are exactly mergeable: re-aggregate sum(violations)/sum(rows)
    // against the declared bound and replace.
    val rateBounds: Map[String, Double] = rated(check)
      .map(sc => s"${sc.name}[global]" -> sc.maxFailRate).toMap
    val rateKeys = rateBounds.keys.toSeq
    val verdicts = if (rateKeys.isEmpty) sliceVerdicts else {
      val boundsDf = rateBounds.toSeq.toDF("constraint", "__max_rate")
      val reagg = sliceVerdicts
        .where(col("constraint").isin(rateKeys: _*))
        .groupBy("constraint")
        .agg(sum(col("rows")).as("rows"),
          sum(col("violations")).as("violations"))
        .withColumn("violation_rate",
          when(col("rows") > 0, col("violations") / col("rows"))
            .otherwise(lit(0.0)))
        .join(broadcast(boundsDf), "constraint")
        .select(lit("(global)").as("partition_key"), col("constraint"),
          (col("violation_rate") <= col("__max_rate")).as("pass"),
          col("rows"), col("violations"), col("violation_rate"))
      sliceVerdicts.where(!col("constraint").isin(rateKeys: _*))
        .unionByName(reagg)
    }
    val metrics = spark.read.parquet(done.map(p => s"${pDir(p)}/metrics"): _*)
      .as[PartitionMetrics].collect().toSeq.sortBy(_.partition)
    // EVERY done slice must carry state for the aggregate verdicts to be
    // sound (a missing one would silently skew the merged stats)
    val stateDirs = done.map(p => s"${pDir(p)}/state")
    val haveState = stateDirs.count(d => Files.exists(Paths.get(d)))
    val withAgg = if (StatsState.statedColumns(check).nonEmpty && haveState > 0) {
      require(haveState == done.size,
        s"only $haveState/${done.size} slices wrote StatsState — aggregate verdicts would be partial")
      val states = spark.read.parquet(stateDirs: _*)
      val aggV = StatsState.aggVerdicts(StatsState.merge(states), check)
        .withColumn("violations", when(col("pass"), 0L).otherwise(1L))
        .withColumn("violation_rate", lit(0.0))
        .select("partition_key", "constraint", "pass", "rows", "violations",
          "violation_rate")
      verdicts.unionByName(aggV)
    } else verdicts
    // schema conformance (pure plan metadata) and the global-scoped
    // statistical constraints (one aggregation-class pass each) re-join
    // the merged output here, evaluated once against the FULL pinned
    // input — their per-slice answers would have been wrong claims
    if (finalCs.isEmpty) (violations, withAgg, metrics)
    else {
      val (df, ctx) = fullInput.get
      val r = Validator.validate(df, check.copy(constraints = finalCs), ctx)
      (violations.unionByName(r.violations), withAgg.unionByName(r.verdicts),
        metrics)
    }
  }
}
