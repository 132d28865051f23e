package graft.tools

import graft.{Harness, SparkEntry}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** One inspection tool over the bench's own session and warm-up
  * ([[Harness]]), so what it reports is the steady state the bench sees.
  *
  * Usage: graft.tools.Inspect <mode> <sfDir> ...
  *
  *  - `time <sfDir> <runs> <query>...` — per query, one untimed run and
  *    then `runs` timed `count()`s, as one line:
  *    `TIME <query> sf=… runs=… runs_failed=… min=… median=… max=…
  *    steal_sec=… jobs=… stages=… tasks=… taskTimeSec=…`.
  *    Failed runs never enter min/median/max (ADVICE r19 item 2). All
  *    counts are per timed run. Jobs, stages and tasks are a pure
  *    function of plan and data, so they are the steal-free complement
  *    of wall time (r21); taskTimeSec sums executor task time. The wall
  *    time before and inside each job goes to stderr as
  *    `[jobgap]`/`[jobrun]` lines.
  *  - `plan <sfDir> [<outDir> <suffix>] <query>...` — the formatted plan
  *    (pre-execution), the post-execution adaptive plan (final join
  *    strategies, AQEShuffleRead coalescing, ReusedExchange) and the
  *    non-range shuffle count the bench audit records; written to
  *    `<outDir>/<query>_<suffix>.txt` when given, else to stdout. The
  *    first two arguments are taken as `<outDir> <suffix>` only when the
  *    first is no declared query and the third is one.
  *  - `warm <sfDir>...` — builds every persisted artifact of each
  *    dataset dir (Harness.warm): the offline train-once job.
  *
  * Exits non-zero when any query, run or warm-up step failed.
  */
object Inspect {
  private val usage = "usage: graft.tools.Inspect time <sfDir> <runs> <query>... | " +
    "plan <sfDir> [<outDir> <suffix>] <query>... | warm <sfDir>..."

  def main(args: Array[String]): Unit = {
    require(args.headOption match {
      case Some("time") => args.length >= 4 && args(2).toIntOption.exists(_ >= 1)
      case Some("plan") => args.length >= 3
      case Some("warm") => args.length >= 2
      case _ => false
    }, usage)
    val spark = Harness.session()
    val ok = args(0) match {
      case "time" => time(spark, args(1), args(2).toInt, args.drop(3).toSeq)
      case "plan" => plan(spark, args(1), args.drop(2).toSeq)
      case "warm" => args.tail.map { dir =>
        val failed = Harness.warm(spark, dir)
        println(s"[inspect] warmed $dir, failed: ${failed.mkString("[", ",", "]")}")
        failed.isEmpty
      }.forall(identity)
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private def query(name: String): Option[(SparkSession, String) => DataFrame] = {
    val q = SparkEntry.queries.get(name)
    if (q.isEmpty) System.err.println(s"[inspect] unknown query: $name")
    q
  }

  private def time(spark: SparkSession, sfDir: String, runs: Int,
                   names: Seq[String]): Boolean = {
    val resolved = names.map(n => n -> query(n))
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val warmed = Harness.warm(spark, sfDir).isEmpty
    resolved.map { case (name, q) =>
      q.exists { fn =>
        // one untimed run absorbs this query's own lazy session state
        Harness.timed(fn(spark, sfDir).count())
        counter.start()
        val s0 = Harness.stealTicks()
        val timed = (1 to runs).map(_ => Harness.timed(fn(spark, sfDir).count()))
        val steal = Harness.stealSince(s0)
        val (jobs, stages, tasks, taskSec) = counter.stop()
        timed.collect { case Left(t) => System.err.println(s"[inspect] $name run FAILED: $t") }
        val times = timed.collect { case Right(sec) => sec }.sorted
        def perRun(n: Long): String =
          if (n % runs == 0) (n / runs).toString else f"${n.toDouble / runs}%.1f"
        val stats =
          if (times.isEmpty) "FAILED"
          else f"min=${times.head}%.3f median=${times(times.size / 2)}%.3f max=${times.last}%.3f"
        println(f"TIME $name sf=$sfDir runs=$runs runs_failed=${runs - times.size} $stats " +
          f"steal_sec=$steal%.2f jobs=${perRun(jobs)} stages=${perRun(stages)} " +
          f"tasks=${perRun(tasks)} taskTimeSec=${taskSec / runs}%.2f")
        times.size == runs
      }
    }.forall(identity) && warmed
  }

  private def plan(spark: SparkSession, sfDir: String, rest: Seq[String]): Boolean = {
    val declared = SparkEntry.queries.contains _
    val (out, names) =
      if (rest.length >= 3 && !declared(rest(0)) && declared(rest(2)))
        (Some((rest(0), rest(1))), rest.drop(2))
      else (None, rest)
    val resolved = names.map(n => n -> query(n))
    val warmed = Harness.warm(spark, sfDir).isEmpty
    out.foreach { case (dir, _) => new java.io.File(dir).mkdirs() }
    resolved.map { case (name, q) =>
      q.exists { fn =>
        try {
          val df = fn(spark, sfDir)
          val formatted = df.queryExecution.explainString(FormattedMode)
          df.collect()
          val text = s"== $name @ $sfDir ==\n\n-- explain(\"formatted\") --\n$formatted" +
            s"\n-- post-execution adaptive plan --\n${df.queryExecution.executedPlan.toString.take(20000)}" +
            s"\n-- non-range shuffles: ${graft.plans.PlanAudit.nonRangeShuffles(df)} --\n"
          out match {
            case Some((dir, suffix)) =>
              val path = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
              java.nio.file.Files.writeString(path, text)
              println(s"[inspect] wrote $path")
            case None => print(text)
          }
          true
        } catch { case NonFatal(t) =>
          System.err.println(s"[inspect] $name FAILED: $t")
          false
        }
      }
    }.forall(identity) && warmed
  }

  /** Jobs, stages, tasks and summed task time between start() and stop(). */
  private final class JobCounter extends SparkListener {
    @volatile private var counting = false
    @volatile private var lastEventNs = 0L
    private val jobs, stages, tasks, taskMs = new AtomicLong(0L)

    private def mark(tag: String, what: String): Unit = {
      val now = System.nanoTime()
      if (lastEventNs > 0) System.err.println(f"$tag ${(now - lastEventNs) / 1e9}%.3f s $what")
      lastEventNs = now
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (counting) { jobs.incrementAndGet(); mark("[jobgap]", s"before job ${j.jobId}") }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (counting) mark("[jobrun]", s"in job ${e.jobId}")
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (counting) stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (counting) { tasks.incrementAndGet(); taskMs.addAndGet(t.taskInfo.duration) }

    // The listener bus is asynchronous (and spark-private, so it cannot
    // be flushed): a short sleep drains the previous run's stragglers
    // before the counters reset, and this window's before they are read.
    def start(): Unit = {
      Thread.sleep(300)
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0L))
      lastEventNs = 0L
      counting = true
    }
    def stop(): (Long, Long, Long, Double) = {
      Thread.sleep(300)
      counting = false
      (jobs.get, stages.get, tasks.get, taskMs.get / 1000.0)
    }
  }
}
