package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set-up, a timed closed loop with one
  * client, and a result file that `perfbench/run.py` checks and reports.
  *
  * Usage: perfbench.Harness --workload <etl_ingest|analytics_mix|heavy_tail>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> --cores <n>
  *
  * The engine is reached only through its public entry points:
  * `SparkEntry.queries`, `XetraPipeline.run`, `EurexPipeline.run`, the
  * `sources.*.ensure*` artifact builders and `PlanAudit`.
  */
object Harness {

  /** Sub-second analytics the data model is built for, with the family of
    * operators each builder calls; builders calling no `ops` object use
    * the plain relational DataFrame API and count as Relational.
    */
  val AnalyticsMix: Seq[(String, String)] = Seq(
    "q_lag_returns" -> "TimeSeries", "q_rolling_vol" -> "TimeSeries",
    "q_ffill" -> "TimeSeries", "q_resample_ohlc" -> "TimeSeries",
    "q_asof_join" -> "TimeSeries", "q_ewma" -> "TimeSeries",
    "q_join_q5" -> "Relational", "q_groupby_agg" -> "Relational", "q_topk" -> "Relational",
    "q_rollup" -> "Relational", "q_join_star" -> "Relational", "q_percentile" -> "Relational",
    "q_sessionize" -> "EventOps", "q_funnel" -> "EventOps", "q_event_windows" -> "EventOps",
    "q_cohort_retention" -> "EventOps", "q_json_extract" -> "EventOps",
    "q_profile" -> "Profiling", "q_dq_checks" -> "Profiling", "q_zscore" -> "Profiling")

  /** The data-bound tail, one or two queries per kind: near-duplicate
    * detection, fuzzy linkage, vector search, text, an iterative graph
    * walk, an iterative trainer and a skew join. None is served from
    * `SessionMemo` on a repeat.
    */
  val HeavyTail: Seq[(String, String)] = Seq(
    "q_minhash_lsh" -> "TextOps", "q_jaccard_prefix" -> "TextOps",
    "q_editdist_join" -> "Linkage",
    "q_cosine_topk_native" -> "VectorOps", "q_ivf_topk" -> "VectorOps",
    "q_langid" -> "TextOps", "q_walks" -> "Graph", "q_logreg" -> "Classify",
    "q_join_salted" -> "Relational")

  val Families = Seq("Relational", "TimeSeries", "EventOps", "Profiling", "TextOps",
    "VectorOps", "Linkage", "Graph", "Classify")

  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  final case class Op(name: String, family: String, pass: Int, seconds: Double, error: Option[String])

  final case class Phase(traced: Boolean, ops: Seq[Op], units: Double,
                         layers: Map[String, Double], stealS: Double)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    val cores = o("cores").toInt
    require(Set("etl_ingest", "analytics_mix", "heavy_tail")(workload), s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.Portable.silenceKRowWindowWarnings()

    val trace = if (traced) Some(new Trace(s"$workload-$seed-${ProcessHandle.current().pid()}")) else None
    trace.foreach(_.install(spark))
    trace.foreach(_.recording = true)
    val planCapture = new PlanCapture
    spark.listenerManager.register(planCapture)
    def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    def layer(name: String, v: Double): Unit = trace.foreach(_.add(name, v))
    /** Adds the part of an operation's wall time that no job covered. */
    def driverGap(t0ms: Long): Unit = trace.foreach { tr =>
      val t1ms = System.currentTimeMillis()
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      tr.add("scheduler.driver_gap_s", tr.driverGapMs(t0ms, t1ms) / 1e3)
    }
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      span(name)(body)
      val s = (System.nanoTime() - t0) / 1e9
      layer(name + "_s", s)
      s
    }

    val result = new mutable.LinkedHashMap[String, String]
    val rnd = new scala.util.Random(seed)
    // A traced run times its first unit of work traced, at the same point
    // of the JVM's life as an untraced run, for the per-layer figures. The
    // tracing overhead then compares the second traced phase with the mean
    // of the untraced phases on either side, so that JIT warm-up between
    // phases does not pass for a tracing cost or saving.
    val phasePlan = if (traced) Seq(true, false, true, false) else Seq(false)

    val phases: Seq[Phase] = workload match {
      case "etl_ingest" =>
        var expected: EtlGen.Expected = null
        var inputDir: Path = null
        val setups = (0 until 3).map { r =>
          inputDir = work.resolve(s"input-$r")
          timed("setup.generate") { expected = EtlGen.write(seed, inputDir) }
        }
        result("setup_s") = setups.mkString("[", ",", "]")
        val f = EtlGen.inputs(inputDir)
        var opNo = 0
        var lastOut: Path = null
        def etlOp(): Op = {
          val out = work.resolve(s"etl-out-$opNo")
          opNo += 1
          val t0 = System.nanoTime()
          val t0ms = System.currentTimeMillis()
          val err = try {
            span("etl.job") {
              timed("etl.xetra_run")(graft.etl.XetraPipeline.run(spark, f.xetra, out.resolve("xetra").toString))
              timed("etl.eurex_run")(graft.etl.EurexPipeline.run(spark, f.eurex,
                f.dimension, out.resolve("eurex").toString))
            }
            None
          } catch { case NonFatal(e) => Some(e.toString) }
          val s = (System.nanoTime() - t0) / 1e9
          driverGap(t0ms)
          if (lastOut != null) deleteTree(lastOut)
          lastOut = out
          Op("etl_job", "etl", opNo, s, err)
        }
        val ps = phasePlan.map { tracedPhase =>
          runPhase(spark, trace, tracedPhase, seconds, opsPerUnit = 1)(() => etlOp())
        }
        result("etl_out") = Json.str(lastOut.toString)
        result("etl_input_rows") = (EtlGen.XetraRows + EtlGen.EurexRows).toString
        result("etl_input_bytes") = expected.inputBytes.toString
        result("etl_output_bytes") = treeBytes(lastOut).toString
        result("etl_expected") = Seq(
          "xetra_rows" -> expected.xetraRows, "xetra_corrupt" -> expected.xetraCorrupt,
          "eurex_rows" -> expected.eurexRows, "eurex_corrupt" -> expected.eurexCorrupt,
          "missing_isin_pairs" -> expected.missingIsinPairs,
          "missing_underlying_pairs" -> expected.missingUnderlyingPairs)
          .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", ",") +
          s""""xetra_dates":${expected.xetraDates.map(Json.str).mkString("[", ",", "]")},""" +
          s""""eurex_dates":${expected.eurexDates.map(Json.str).mkString("[", ",", "]")}}"""
        ps

      case _ =>
        val heavy = workload == "heavy_tail"
        val queries = if (heavy) HeavyTail else AnalyticsMix
        val source = Paths.get(o("data")).toAbsolutePath
        var dataDir: Path = null
        // Artifact builds cost tens of seconds, so heavy_tail sets up once;
        // the light set-up of analytics_mix repeats over fresh copies.
        val setups = (0 until (if (heavy) 1 else 3)).map { r =>
          dataDir = work.resolve(s"data-$r")
          val t0 = System.nanoTime()
          span("setup") {
            span("setup.load") {
              copyTree(source, dataDir)
              TableNames.foreach(t => graft.Tables.load(spark, dataDir.toString, t).schema)
            }
            if (heavy) buildArtifacts(spark, dataDir.toString, timed)
          }
          (System.nanoTime() - t0) / 1e9
        }
        result("setup_s") = setups.mkString("[", ",", "]")
        val dir = dataDir.toString
        val outDir = work.resolve("out")
        val tablesOf = mutable.LinkedHashMap.empty[String, Set[String]]
        val planCheck = mutable.LinkedHashMap.empty[String, String]
        def queryOp(name: String, family: String, pass: Int): Op = {
          val t0 = System.nanoTime()
          val t0ms = System.currentTimeMillis()
          var df: DataFrame = null
          val err = try {
            span(s"ops.$family.$name") {
              val b0 = System.nanoTime()
              df = span("entry.build")(graft.SparkEntry.queries(name)(spark, dir))
              layer("entry.build_s", (System.nanoTime() - b0) / 1e9)
              df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
            }
            None
          } catch { case NonFatal(e) => Some(e.toString) }
          val s = (System.nanoTime() - t0) / 1e9
          driverGap(t0ms)
          trace.foreach { tr =>
            tr.add(s"ops.$family.wall_s", s)
            if (df != null) df.queryExecution.tracker.phases.get("analysis")
              .foreach(p => tr.add("catalyst.analysis_s", p.durationMs / 1e3))
          }
          if (df != null && err.isEmpty && !planCheck.contains(name)) {
            org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
            planCheck(name) = checkPlan(df, planCapture.last)
            tablesOf(name) = tablesRead(df, dir)
          }
          Op(name, family, pass, s, err)
        }
        val ps = phasePlan.map { tracedPhase =>
          var pass = 0
          var order = Iterator.empty[(String, String)]
          runPhase(spark, trace, tracedPhase, seconds, opsPerUnit = queries.size,
              mustFinishPass = () => order.hasNext && pass == 1) { () =>
            if (!order.hasNext) {
              order = (if (heavy) queries else rnd.shuffle(queries)).iterator
              pass += 1
            }
            val (name, family) = order.next()
            queryOp(name, family, pass)
          }
        }
        result("out_dir") = Json.str(outDir.toString)
        result("data_dir") = Json.str(dir)
        result("queries") = queries.map(q => Json.str(q._1)).mkString("[", ",", "]")
        result("tables_read") = tablesOf.map { case (k, v) =>
          s"${Json.str(k)}:${v.toSeq.sorted.map(Json.str).mkString("[", ",", "]")}" }.mkString("{", ",", "}")
        result("plan_check") = planCheck.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}")
        // With no live session, oracleSql embeds only models already on disk
        // instead of training the ones this workload never uses.
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val oracle = graft.SparkEntry.oracleSql
        result("oracle_sql") = queries.flatMap { case (q, _) => oracle.get(q).map(q -> _) }
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
        ps
    }

    result("phases") = phases.map { p =>
      val ops = p.ops.map { op =>
        s"""{"name":${Json.str(op.name)},"family":${Json.str(op.family)},"pass":${op.pass},""" +
          s""""s":${op.seconds},"error":${op.error.map(Json.str).getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      s"""{"traced":${p.traced},"ops":$ops,""" +
        s""""units":${p.units},"steal_s":${p.stealS},"layers":${Json.obj(p.layers)}}"""
    }.mkString("[", ",", "]")
    trace.foreach { tr =>
      val file = work.resolve("trace.json")
      Files.writeString(file, tr.json(phases.head.layers))
      result("trace_file") = Json.str(file.toString)
    }
    result("peak_rss_mb") = peakRssMb().toString
    spark.stop()
    Files.writeString(work.resolve("result.json"),
      result.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\n", ",\n", "}\n"))
  }

  /** The artifacts the heavy tail reads, each built into the run's empty
    * warehouse and index directory under its own span.
    */
  private def buildArtifacts(spark: SparkSession, dir: String,
                             timed: String => (=> Unit) => Double): Unit = {
    timed("sources.shingles")(graft.sources.ShingleStore.ensureShingles(spark, dir, 3).count())
    timed("sources.tokens")(graft.sources.TokenStore.ensureTokens(spark, dir).count())
    timed("sources.pairs")(graft.sources.PairStore.ensurePairs(spark, dir).count())
    // IvfClusterStore.ensureClustered takes the trained centroids, which
    // only the query builder trains (or loads), so building the q_ivf_topk
    // plan builds the index artifacts.
    timed("sources.ivf_pq")(graft.SparkEntry.queries("q_ivf_topk")(spark, dir))
  }

  /** Runs operations in a closed loop until `seconds` have passed (and,
    * for query workloads, at least one full pass over the query set, so
    * every query is executed and checked in every run).
    */
  private def runPhase(spark: SparkSession, trace: Option[Trace], traced: Boolean, seconds: Double,
                       opsPerUnit: Int, mustFinishPass: () => Boolean = () => false)
                      (op: () => Op): Phase = {
    trace.foreach { tr => org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext); tr.recording = traced }
    val before = trace.map(_.snapshot()).getOrElse(Map.empty)
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cc0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val steal0 = stealTicks()
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.isEmpty || System.nanoTime() < deadline || mustFinishPass()) ops += op()
    val stealS = (stealTicks() - steal0) / 100.0
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val okOps = ops.filter(_.error.isEmpty)
    val units = okOps.size.toDouble / opsPerUnit
    val layers = trace.filter(_ => traced).map { tr =>
      val after = tr.snapshot()
      tr.recording = false
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      val perUnit = (Seq("etl.xetra_run_s", "etl.eurex_run_s", "sources.csv_rows_read",
        "sources.corrupt_rows", "sink.files", "sink.bytes", "sink.rows", "entry.build_s") ++
        Families.map(f => s"ops.$f.wall_s") ++
        Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
          "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
          "scheduler.delay_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
          "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.exchanges",
          "memory.spill_bytes", "driver.result_bytes"))
        .map(k => k -> delta.getOrElse(k, 0.0) / math.max(units, 1e-9))
      val setup = Seq("sources.shingles_s", "sources.tokens_s", "sources.pairs_s",
        "sources.ivf_pq_s").map(k => k -> before.getOrElse(k, 0.0))
      val opS = okOps.map(_.seconds).sum / math.max(units, 1e-9)
      val codegen = Seq(
        "codegen.compile_s" -> (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9 / math.max(units, 1e-9),
        "codegen.classes" -> (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0) / math.max(units, 1e-9))
      val cpu = delta.getOrElse("executor.cpu_s", 0.0) / math.max(units, 1e-9)
      (perUnit ++ setup ++ codegen ++ Seq(
        "executor.cpu_util" -> cpu / (opS * spark.sparkContext.defaultParallelism),
        "host.steal_s" -> stealS)).toMap
    }.getOrElse(Map.empty)
    Phase(traced, ops.toSeq, units, layers, stealS)
  }

  /** Keeps the last query execution that wrote files, for the plan check. */
  final class PlanCapture extends QueryExecutionListener {
    @volatile var last: QueryExecution = null
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (Plans.nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])) last = qe
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Window, Sort and Aggregate operators of a physical plan. Sorts that
    * only feed a sort-merge join are left out: adaptive execution drops
    * them when it turns the join into a broadcast join.
    */
  private def operators(plan: SparkPlan): Map[String, Int] = {
    val nodes = Plans.nodes(plan, viaReuse = true)
    val joinSorts = nodes.collect { case j: SortMergeJoinExec => j.children }.flatten
    def isJoinSort(n: SparkPlan) = joinSorts.exists(_ eq n)
    Map(
      "Window" -> nodes.count(_.isInstanceOf[WindowExecBase]),
      "Sort" -> nodes.count {
        case s: SortExec => !isJoinSort(s)
        case _: TakeOrderedAndProjectExec => true
        case _ => false
      },
      "Aggregate" -> nodes.count(_.isInstanceOf[BaseAggregateExec]))
  }

  /** "ok" when the executed plan of the timed write keeps the Window, Sort
    * and Aggregate operators of the query's own physical plan; otherwise
    * names the operators the timed execution lost.
    */
  private def checkPlan(df: DataFrame, written: QueryExecution): String =
    if (written == null) "no write execution captured"
    else {
      val want = operators(df.queryExecution.executedPlan)
      val got = operators(written.executedPlan)
      val lost = want.collect { case (k, n) if got(k) < n => s"$k ${got(k)}<$n" }
      if (lost.isEmpty) "ok" else "lost " + lost.mkString(", ")
    }

  /** Base tables of `dir` that a query's plan reads. */
  private def tablesRead(df: DataFrame, dir: String): Set[String] = {
    val roots = df.queryExecution.analyzed.collectLeaves().flatMap {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
    TableNames.filter(t => roots.exists(_.endsWith(s"$dir/$t.parquet"))).toSet
  }

  private def stealTicks(): Long =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")(8).toLong
    catch { case NonFatal(_) => 0L }

  private def peakRssMb(): Double =
    try Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).forEach(p => Files.copy(p, to.resolve(p.getFileName)))
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum() finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}
