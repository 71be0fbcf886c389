package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etd._
import graft.etd.Model._

/** The ETD pipeline benchmark.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Run from the root of a checkout (all files stay under `.bench_build`).
  * Prints an environment stamp line and, last, one JSON result line.
  *
  * Workloads (BENCHMARK.json gates the first two):
  *   - etd-longseries: few houses, long 5-minute series with sparse short
  *     gaps and a day-long outage; combine -> Pipeline.run -> writeStages.
  *   - etd-fleet: many projects and houses, short series, dense short gaps;
  *     the same calls.
  *   - etd-analysis: a closed loop (one client) of seeded reads over the
  *     staged tables one pipeline pass wrote during set-up.
  *   - golden: the reference's golden-test shape (10 houses, 2 projects,
  *     365 days, 1,051,200 rows); the same calls as etd-longseries.
  *
  * Project 1 of every workload is the canary project, generated from a
  * fixed seed: its rows in every sink must match the fingerprints recorded
  * in perfbench/expected/<workload>.tsv. A run that finds no record, or
  * other values, writes its own to .bench_build/expected/<workload>.tsv;
  * after a deliberate change of the pipeline's results, review that file
  * and copy it over the record.
  *
  * Untraced (--trace 0) it reports the end-to-end metrics of the timed
  * region. Traced (--trace 1) it runs a reference pass, then the same
  * pipeline layer by layer under spans plus one query of each kind, and
  * reports per-layer metrics. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  val shapes: Map[String, Gen.Shape] = Map(
    "etd-longseries" -> Gen.Shape(2, 2, 15, 0.01, 1, (288, 576)),
    "etd-fleet" -> Gen.Shape(6, 3, 2, 0.15, 1, (24, 72)),
    "etd-analysis" -> Gen.Shape(2, 2, 15, 0.01, 1, (288, 576)),
    "golden" -> Gen.Shape(2, 5, 365, 0.01, 2, (288, 864)))

  val layers: Seq[String] = Seq("sources", "diffs", "impute", "imputesummaries",
    "projectaggregate", "calculated", "resample", "tables", "weather")

  /** The workload whose recorded canary fingerprints apply: etd-analysis
    * writes its tables with etd-longseries's shape. */
  def expectedName(workload: String): String =
    if (workload == "etd-analysis") "etd-longseries" else workload

  /** Queries in one timed analysis mix (p90 needs at least 100). */
  val mixSize = 100
  /** Input generations per set-up; `setup_s` takes their median. */
  val generations = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1")
    require(shapes.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${shapes.keys.toSeq.sorted.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val build = new File(".bench_build").getCanonicalFile
    val runId = s"${opts.workload}-s${opts.seed}-t${if (opts.trace) 1 else 0}-" +
      System.currentTimeMillis()
    val work = new File(build, s"work/$runId")
    work.mkdirs()
    val env = Env.before()
    val spark = session(work)
    try {
      val run = new Run(spark, opts, runId, build)
      val line = run()
      val envJson = env.after(run.timedCpuS, run.timedWallS, spark.version, opts.seed)
      Env.save(new File(build, s"results/$runId.json"), envJson, line)
      println(s"""{"env":$envJson}""")
      println(line)
    } finally {
      spark.stop()
      Files.deleteTree(work)
    }
  }

  def session(work: File): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolation quantile of `xs` (non-empty). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One benchmark run; working files go to `build`/work/`runId`. */
final class Run(spark: SparkSession, opts: Main.Opts, runId: String, build: File) {
  import Main._

  private val work = new File(build, s"work/$runId").getPath
  private val shape = shapes(opts.workload)
  private val problems = mutable.Buffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val tracer = if (opts.trace) Some(new Tracer(spark, runId)) else None

  /** Process CPU and wall seconds of the timed region, for the stamp. */
  var timedCpuS = 0.0
  var timedWallS = 0.0

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `time`, logging the seconds to stderr under `what`. */
  private def logged[A](what: String)(body: => A): (A, Double) = {
    val r = time(body)
    System.err.println(f"[perfbench] $what: ${r._2}%.2f s")
    r
  }

  /** combine -> Pipeline.run -> writeStages, as a user runs it. */
  def pipelinePass(inputs: Gen.Inputs, out: String): Unit = {
    val index = Sources.readIndex(spark, inputs.index)
    val combined = Sources.combineHouseholds(spark, inputs.mapped, index)
    val stages = Pipeline.run(combined, localCheckpointEvery = Some(1))
    Pipeline.writeStages(stages, out, partitionByProject = true)
    freeBlocks()
  }

  private def freeBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** The same work as [[pipelinePass]], one public call at a time. The
    * composition mirrors `Pipeline.run` and `Pipeline.writeStages`; the
    * fingerprint comparison against the reference pass proves it does. */
  def tracedPipelinePass(inputs: Gen.Inputs, out: String, st: Steps): Unit = {
    val cums = cumulativeColumns
    val index = st("sources", "sources.readIndex")(Sources.readIndex(spark, inputs.index))
    val combined = st("sources", "sources.combineHouseholds")(
      Sources.combineHouseholds(spark, inputs.mapped, index))
    val sorted = combined.repartition(col(ProjectId), col(HouseId))
      .sortWithinPartitions(ProjectId, HouseId, ReadingDate)
    val withAvgs = st("diffs", "diffs.prepare+joinAverages") {
      val (avgDiffs, _) = Diffs.prepare(sorted, cums)
      Diffs.joinAverages(sorted, avgDiffs)
    }
    val imputedAll = st("impute", "impute.imputeColumnsBatched")(
      Impute.imputeColumnsBatched(withAvgs, cums, keepGapCols = true))
    val gapStats = st("imputesummaries", "imputesummaries.gapStats")(
      ImputeSummaries.gapStatsAll(cums.map { c =>
        ImputeSummaries.gapStats(imputedAll
          .withColumn("gap_length", col(s"__gap_length_$c"))
          .withColumn("cumulative_value_group", col(s"__cvg_$c")), c)
      }))
    val imputed = st("projectaggregate", "projectaggregate.rebuildCumulative")(
      ProjectAggregate.rebuildCumulative(
        imputedAll.drop(cums.flatMap(c => Seq(s"__gap_length_$c", s"__cvg_$c")): _*),
        cums))
    val hhSummary = st("imputesummaries", "imputesummaries.householdSummary")(
      ImputeSummaries.householdSummary(gapStats, imputed))
    val prSummary = st("imputesummaries", "imputesummaries.projectSummary")(
      ImputeSummaries.projectSummary(gapStats, imputed))
    val calculated = st("calculated", "calculated.addEnergyBalance")(
      Calculated.addEnergyBalance(imputed))
    val perInterval = Checks.intervals.map { iv =>
      val r = st("resample", s"resample.$iv")(Resample.resampleStandard(calculated, iv))
      (iv, r, st("projectaggregate", s"projectaggregate.$iv")(
        ProjectAggregate.aggregateStandard(r)))
    }
    def write(df: DataFrame, name: String, byProject: Boolean = false): Unit =
      st.run("sources", s"sources.writeStage.$name", st.rows(df))(
        Sources.writeStage(df, out, name, byProject))
    write(imputed, "household_imputed", byProject = true)
    write(gapStats, "impute_gap_stats")
    write(hhSummary, "impute_summary_household")
    write(prSummary, "impute_summary_project")
    write(calculated, "household_calculated", byProject = true)
    perInterval.foreach { case (iv, r, a) =>
      write(r, s"household_$iv", byProject = true)
      write(a, s"project_$iv")
    }
    st.release(spark)
  }

  /** Run `qs`; returns per-query seconds. Answers must repeat per key. */
  private val answers = mutable.Map.empty[String, String]
  def queries(ctx: Queries.Ctx, qs: Seq[Queries.Query], st: Steps,
              count: Boolean): Seq[Double] = qs.map { q =>
    val (res, s) = time {
      try {
        val (answer, issues) = st.tracer.fold(Queries.run(ctx, q, st))(t =>
          t.span(s"query.${q.kind}", "query")(Queries.run(ctx, q, st)))
        val prev = answers.getOrElseUpdate(q.key, answer)
        issues ++ (if (prev == answer) Nil else Seq(s"${q.key}: answer changed"))
      } catch { case e: Exception => Seq(s"${q.key}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally st.release(spark)
    }
    if (count) {
      attempted += 1
      if (res.nonEmpty) failed += 1
    } else System.err.println(f"[perfbench] untimed ${q.key}: $s%.2f s")
    problems ++= res
    s
  }

  /** Set-up: the session, then the inputs generated [[generations]] times;
    * returns the last inputs and the session time plus the median
    * generation time. */
  def setUp(): (Gen.Inputs, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val gens = (0 until (if (opts.trace) 1 else generations)).map { i =>
      logged(s"generate $i")(Gen.write(spark, opts.seed, shape, s"$work/in$i"))
    }
    (gens.last._1, sessionS + median(gens.map(_._2)))
  }

  /** An untimed pipeline pass whose checked output the rest of the run
    * compares against or reads. */
  def referencePass(inputs: Gen.Inputs): (String, Checks.PassCheck, Double) = {
    val out = s"$work/reference"
    val ((), s) = logged("reference pass")(pipelinePass(inputs, out))
    val (check, _) = logged("check reference pass")(Checks.pipelineOutputs(spark, out, shape))
    problems ++= (check.problems ++ canaryProblems(check)).map("reference pass: " + _)
    (out, check, s)
  }

  /** The canary project's fingerprints against the record for this
    * workload; with no record, or a mismatch, this run's fingerprints go
    * to .bench_build/expected. */
  def canaryProblems(c: Checks.PassCheck): Seq[String] = {
    val name = expectedName(opts.workload)
    val record = new File(s"perfbench/expected/$name.tsv")
    val mine = new File(build, s"expected/$name.tsv")
    val found =
      if (!record.exists()) Seq(s"expected: no record $record")
      else Checks.differences(Checks.readPrint(record), c.canary)
    if (found.nonEmpty) Checks.writePrint(mine, c.canary)
    found
  }

  /** Run the workload; returns the result line. */
  def apply(): String = {
    tracer.foreach(_.start())
    val (inputs, setupS) = setUp()
    if (opts.trace) traced(inputs)
    else if (opts.workload == "etd-analysis") analysis(inputs, setupS)
    else pipeline(inputs, setupS)
    tracer.foreach(_.write(new File(build, s"traces/$runId.jsonl")))
    problems.take(20).foreach(p => System.err.println(s"[perfbench] problem: $p"))
    val correct = problems.isEmpty && failed == 0
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": ${if (attempted == 0) 1 else failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** One timed pipeline pass, the JVM's first, as a batch job's one pass
    * per submission; its canary rows must match the record. */
  def pipeline(inputs: Gen.Inputs, setupS: Double): Unit = {
    val out = s"$work/timed"
    val cpu0 = processCpuNs()
    val (ok, wall) = logged("timed pass") {
      try { pipelinePass(inputs, out); true }
      catch { case e: Exception =>
        problems += s"timed pass: ${e.getClass.getSimpleName}: ${e.getMessage}"; false }
    }
    timedCpuS = (processCpuNs() - cpu0) / 1e9
    timedWallS = wall
    val sinks = Checks.expectedRows(shape).map(_._1)
    attempted += sinks.size
    if (!ok) failed += sinks.size
    else {
      val (c, _) = logged("check timed pass")(Checks.pipelineOutputs(spark, out, shape))
      val bad = (c.problems ++ canaryProblems(c)).toSet
      problems ++= bad.toSeq.sorted.map("timed pass: " + _)
      failed += (if (bad.exists(_.startsWith("expected:"))) sinks.size
                 else sinks.count(s => bad.exists(_.startsWith(s + ":"))))
    }
    val outMb = sinks.map(s => Files.dataBytes(new File(s"$out/$s.parquet"))).sum / 1e6
    endToEnd(setupS, wall, timedCpuS, outMb)
  }

  private def endToEnd(setupS: Double, wallS: Double, cpuS: Double, outMb: Double): Unit = {
    metrics("setup_s") = (setupS, "s")
    metrics("wall_s") = (wallS, "s")
    metrics("cpu_s") = (cpuS, "CPU-s")
    metrics("output_mb") = (outMb, "MB")
  }

  /** Set-up writes the staged tables with one pipeline pass and warms the
    * query paths; the timed part is a closed loop of one client over the
    * seeded mix: the first [[mixSize]] queries, then more until `seconds`
    * is used. `wall_s` is the time to answer the first [[mixSize]]. */
  def analysis(inputs: Gen.Inputs, setupS: Double): Unit = {
    val (stagesDir, _, passS) = referencePass(inputs)
    val ctx = Queries.Ctx(spark, stagesDir, inputs, shape)
    val st = new Steps(None)
    val (_, warmS) = logged("query warm-up")(
      queries(ctx, Queries.stream(opts.seed + 1, shape).take(12).toSeq, st, count = false))
    val stream = Queries.stream(opts.seed, shape)
    val cpu0 = processCpuNs()
    val (lat, wall) = logged("timed query mix")(
      queries(ctx, stream.take(mixSize).toSeq, st, count = true))
    val cpu = (processCpuNs() - cpu0) / 1e9
    val more = mutable.Buffer.empty[Double]
    while (wall + more.sum < opts.seconds)
      more ++= queries(ctx, Seq(stream.next()), st, count = true)
    timedCpuS = cpu; timedWallS = wall
    val outMb = Checks.expectedRows(shape)
      .map(s => Files.dataBytes(new File(s"$stagesDir/${s._1}.parquet"))).sum / 1e6
    endToEnd(setupS + passS + warmS, wall, cpu, outMb)
    val latMs = (lat ++ more).map(_ * 1e3)
    metrics("query_p50_ms") = (quantile(latMs, 0.5), "ms")
    metrics("query_p90_ms") = (quantile(latMs, 0.9), "ms")
  }

  /** A reference pass (untraced; it also warms the JVM), then the same
    * pipeline layer by layer plus one query of each kind, traced. The
    * traced pass's sinks must match the reference's. */
  def traced(inputs: Gen.Inputs): Unit = {
    val t = tracer.get
    val scansBefore = t.scans.size
    val (refOut, refCheck, refS) = referencePass(inputs)
    t.drain()
    val inputScanRows = t.scans.drop(scansBefore)
      .collect { case (roots, rows) if roots.exists(_.contains(inputs.mapped)) => rows }.sum
    val tracedOut = s"$work/traced"
    val st = new Steps(tracer)
    logged("traced pass")(
      t.span("pipeline", "pipeline")(tracedPipelinePass(inputs, tracedOut, st)))
    val ctx = Queries.Ctx(spark, refOut, inputs, shape)
    queries(ctx, Queries.stream(opts.seed, shape).take(Queries.kinds.size).toSeq, st,
      count = true)
    val c = Checks.pipelineOutputs(spark, tracedOut, shape)
    val bad = c.problems ++ Checks.differences(refCheck.whole, c.whole)
    attempted += 1
    if (bad.nonEmpty) failed += 1
    problems ++= bad.map("traced pass: " + _)
    val gapRows = Checks.gapRows(Sources.combineHouseholds(spark, inputs.mapped,
      Sources.readIndex(spark, inputs.index)))
    t.stop()
    layerMetrics(t)
    val pipe = t.allSpans.find(_.name == "pipeline").get
    val inPipe = (ms: Long) => ms >= pipe.startMs && ms <= pipe.endMs
    val planMs = t.phases.filter(p => inPipe(p._2)).map(_._3).sum.toDouble
    metrics("pipeline.jobs") = (t.jobStarts.count(inPipe).toDouble, "count")
    metrics("pipeline.stages") = (t.stages.count(s => inPipe(s.submitMs)).toDouble, "count")
    metrics("pipeline.driver_share") = (planMs / (pipe.durS * 1e3), "ratio")
    // rows the reference pass's file scans of the input files returned,
    // over the rows those files hold
    val inputRows = (shape.includedHouses + 1L) * shape.rowsPerHouse
    metrics("sources.scan_amplification") = (inputScanRows.toDouble / inputRows, "ratio")
    metrics("impute.gap_rows") = (gapRows.toDouble, "count")
    metrics("impute.rows_imputed") = (refCheck.rowsImputed.toDouble, "count")
    metrics("impute.branches_hit") = (refCheck.imputeBits.toDouble, "count")
    timedWallS = refS
  }

  private def layerMetrics(t: Tracer): Unit = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val layerOf = (ms: Long) => t.spanAt(ms).map(_.layer)
    val stageLayer = t.stages.map(s => (s.stageId, s.attempt) -> layerOf(s.submitMs)).toMap
    val submit = t.stages.map(s => (s.stageId, s.attempt) -> s.submitMs).toMap
    layers.foreach { l =>
      val calls = spans.filter(s => s.layer == l &&
        !byId.get(s.parent).exists(_.layer == l))
      val stageKeys = stageLayer.collect { case (k, Some(`l`)) => k }.toSet
      val ts = t.tasks.filter(k => stageKeys((k.stageId, k.attempt)))
      val planMs = t.phases.filter(p => layerOf(p._2).contains(l)).map(_._3).sum
      metrics(s"$l.call_ms") = (calls.map(_.durS).sum * 1e3, "ms")
      metrics(s"$l.plan_ms") = (planMs.toDouble, "ms")
      metrics(s"$l.self_s") = (calls.map(t.selfS).sum, "s")
      metrics(s"$l.task_cpu_s") = (ts.map(_.cpuNs).sum / 1e9, "CPU-s")
      metrics(s"$l.sched_wait_s") = (ts.map(k =>
        math.max(0L, k.launchMs - submit((k.stageId, k.attempt)))).sum / 1e3, "s")
      metrics(s"$l.rows_out") = (t.rowsOut(l).toDouble, "count")
      metrics(s"$l.tasks") = (ts.size.toDouble, "count")
      metrics(s"$l.failed_tasks") = (ts.count(!_.ok).toDouble, "count")
      metrics(s"$l.shuffle_mb") = (ts.map(k => k.shuffleWrite).sum / 1e6, "MB")
      metrics(s"$l.spill_mb") = (ts.map(_.spillMem).sum / 1e6, "MB")
      metrics(s"$l.peak_task_mem_mb") = ((0L +: ts.map(_.peakMem)).max / 1e6, "MB")
    }
  }
}
