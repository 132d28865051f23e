package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Physical-plan walks shared by the tracer and the plan self-check. */
object Plans {
  /** Every node of an executed plan: AQE stages, subqueries, the plan
    * behind an eagerly executed command and the plan that filled a cache.
    * With `viaReuse`, also the plans that reused exchanges and subqueries
    * stand for, which execute once but belong to both consumers.
    */
  def nodes(p: SparkPlan, viaReuse: Boolean = false): Seq[SparkPlan] =
    graft.plans.PlanAudit.flatten(p).flatMap {
      case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan, viaReuse)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan, viaReuse)
      case r: ReusedExchangeExec if viaReuse => r +: nodes(r.child, viaReuse)
      case r: ReusedSubqueryExec if viaReuse => r +: nodes(r.child, viaReuse)
      case n => Seq(n)
    }
}

/** Spans and counters of one traced run, kept in memory and written out
  * when the run ends. Spans are opened only by the benchmark's single
  * client thread; counters are also fed by Spark's listener thread.
  */
final class Trace(val runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seenScanMetrics = mutable.HashSet.empty[Long]
  @volatile var recording = false

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      open = open.tail
      spans += Span(id, name, t0, System.nanoTime(), parent)
    }
  }

  def add(name: String, v: Double): Unit = synchronized {
    if (recording) counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def snapshot(): Map[String, Double] = synchronized(counters.toMap)

  /** Wall milliseconds of [startMs, endMs] that no running job covers. */
  def driverGapMs(startMs: Long, endMs: Long): Long = synchronized {
    val clipped = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (endMs - startMs) - covered
  }

  private[perfbench] def jobStart(id: Int, t: Long): Unit = synchronized(jobStarts(id) = t)
  private[perfbench] def jobEnd(id: Int, t: Long): Unit = synchronized {
    jobStarts.remove(id).foreach(s => jobIntervals += ((s, t)))
  }

  /** Counters taken from one finished query execution: planner phases,
    * exchanges, file-sink write statistics and CSV rows scanned.
    */
  private[perfbench] def query(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1e3))
    }
    val plan = Plans.nodes(qe.executedPlan)
    add("shuffle.exchanges", plan.count(_.isInstanceOf[ShuffleExchangeExec]).toDouble)
    plan.foreach {
      case w: DataWritingCommandExec =>
        def m(k: String) = w.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        add("sink.files", m("numFiles"))
        add("sink.bytes", m("numOutputBytes"))
        add("sink.rows", m("numOutputRows"))
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.contains("corrupt_rows") =>
            add("sources.corrupt_rows", m("numOutputRows"))
          case _ =>
        }
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
        s.metrics.get("numOutputRows").foreach { r =>
          val fresh = synchronized(seenScanMetrics.add(r.id))
          if (fresh) add("sources.csv_rows_read", r.value.toDouble)
        }
      case _ =>
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new TraceListener(this))
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = query(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = query(qe)
    })
  }

  def json(layers: Map[String, Double]): String = {
    val s = spans.map { sp =>
      s"""{"id":${sp.id},"name":${Json.str(sp.name)},"start_ns":${sp.startNs},"end_ns":${sp.endNs},""" +
        s""""parent":${sp.parent},"run":${Json.str(runId)}}"""
    }.mkString("[", ",\n", "]")
    s"""{"run":${Json.str(runId)},"counters":${Json.obj(layers)},"spans":$s}"""
  }
}

object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)
}

/** Scheduler and executor counters from Spark's listener bus. */
final class TraceListener(tr: Trace) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    tr.add("scheduler.jobs", 1)
    tr.jobStart(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = tr.jobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tr.add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tr.add("scheduler.tasks", 1)
    if (m != null) {
      val delayMs = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      tr.add("scheduler.delay_s", math.max(0L, delayMs) / 1e3)
      tr.add("executor.run_s", m.executorRunTime / 1e3)
      tr.add("executor.cpu_s", m.executorCpuTime / 1e9)
      tr.add("executor.gc_s", m.jvmGCTime / 1e3)
      tr.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tr.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      tr.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      tr.add("memory.spill_bytes", m.memoryBytesSpilled.toDouble)
      tr.add("driver.result_bytes", m.resultSize.toDouble)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
