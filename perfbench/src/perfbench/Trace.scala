package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every span: epoch milliseconds, the unit Spark's listener
  * events carry, extended with nanoTime resolution for the benchmark's own
  * timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** Per-operation figures taken from the recorder: `self` splits the
  * operation's wall along its blocking path (the values sum to the wall);
  * `sums` are the task/stage metrics of the jobs it triggered.
  */
final case class OpTrace(wall: Double, self: Map[String, Double],
                         sums: Map[String, Double], sqlExecs: Seq[(Double, Double)],
                         spans: Seq[Span])

/** Records jobs, stages, task metrics, SQL executions and Catalyst planning
  * phases. Registered only in traced runs; operations are attributed by time
  * containment, which is exact because traced runs issue one operation at a
  * time.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private final class StageRec {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L
    var shRead = 0L; var shWrite = 0L; var input = 0L; var spill = 0L
    val running = mutable.ArrayBuffer[(Double, Double)]() // task launch -> finish
  }
  private final class JobRec(val id: Int, val start: Double, val stages: Seq[Int]) {
    var end: Double = Double.NaN
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val execs = mutable.LinkedHashMap[Long, Array[Double]]()
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.deserMs += m.executorDeserializeTime
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.input += m.inputMetrics.bytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.running += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Array(s.time.toDouble, Double.NaN)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_(1) = s.time.toDouble)
    }
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (n, p) =>
        phases += ((n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Everything recorded inside [t0, t1] (ms). Listener events carry whole
    * milliseconds, hence the 1 ms slack on containment.
    */
  def op(spark: SparkSession, opId: Int, name: String, t0: Double, t1: Double,
         nextSpan: () => Int): OpTrace = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      def inside(s: Double, e: Double) = s >= math.floor(t0) - 1 && e <= t1 + 1 && !e.isNaN
      val js = jobs.values.filter(j => inside(j.start, j.end)).toSeq
      val xs = execs.values.filter(x => inside(x(0), x(1))).map(x => (x(0), x(1))).toSeq
      val ps = phases.filter(p => inside(p._2, p._3)).toSeq
      val sts = js.flatMap(_.stages).distinct.flatMap(stages.get)
      def clip(a: Double, b: Double) = (math.max(a, t0), math.min(b, t1))
      // time at least one task of the operation's jobs was running
      val busy = Recorder.covered(sts.flatMap(_.running).map(r => clip(r._1, r._2)))
      // blocking-path sweep: each instant of the wall goes to the innermost
      // layer covering it (job > planning phase > other SQL execution time
      // > the entry point's own code)
      def lab(level: Int, s: Double, e: Double) = { val c = clip(s, e); (level, c._1, c._2) }
      val labelled: Seq[(Int, Double, Double)] =
        js.map(j => lab(3, j.start, j.end)) ++ ps.map(p => lab(2, p._2, p._3)) ++
          xs.map(x => lab(1, x._1, x._2))
      val cuts = (Seq(t0, t1) ++ labelled.flatMap(l => Seq(l._2, l._3)))
        .filter(c => c >= t0 && c <= t1).distinct.sorted
      val acc = Array.fill(4)(0.0)
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val m = (a + b) / 2
          val lvl = labelled.filter(l => l._2 <= m && m < l._3).map(_._1)
            .foldLeft(0)(math.max)
          acc(lvl) += b - a
        case _ =>
      }
      val execBusy = math.min(busy, acc(3))
      val self = Map(
        "entry.self_ms" -> acc(0), "spark.sql_other_ms" -> acc(1),
        "spark.plan_self_ms" -> acc(2), "spark.sched_delay_ms" -> (acc(3) - execBusy),
        "spark.exec_busy_ms" -> execBusy)
      val sums = Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> sts.count(_.tasks > 0).toDouble,
        "spark.tasks" -> sts.map(_.tasks).sum.toDouble,
        "spark.exec_run_ms" -> sts.map(_.runMs).sum.toDouble,
        "spark.exec_cpu_ms" -> sts.map(_.cpuNs).sum / 1e6,
        "spark.deser_ms" -> sts.map(_.deserMs).sum.toDouble,
        "spark.shuffle_read_bytes" -> sts.map(_.shRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> sts.map(_.shWrite).sum.toDouble,
        "spark.spill_bytes" -> sts.map(_.spill).sum.toDouble,
        "index.scan_bytes" -> sts.map(_.input).sum.toDouble,
        "spark.plan_ms" -> ps.map(p => p._3 - p._2).sum)
      val root = nextSpan()
      val execSpans = xs.map(x => Span(nextSpan(), "sql.execution", x._1, x._2, root, opId))
      def parentOf(s: Double, e: Double) =
        execSpans.find(x => x.start <= s && e <= x.end).map(_.id).getOrElse(root)
      val spans = Seq(Span(root, name, t0, t1, -1, opId)) ++ execSpans ++
        ps.map(p => Span(nextSpan(), "spark.phase." + p._1, p._2, p._3, parentOf(p._2, p._3), opId)) ++
        js.map(j => Span(nextSpan(), s"spark.job.${j.id}", j.start, j.end, parentOf(j.start, j.end), opId))
      OpTrace(t1 - t0, self, sums, xs.sortBy(_._1), spans)
    }
  }
}

object Recorder {
  /** Length of the union of intervals. */
  def covered(xs: Seq[(Double, Double)]): Double = {
    var end = Double.NegativeInfinity
    var sum = 0.0
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { sum += b - math.max(a, end); end = b }
    }
    sum
  }
}

/** Collects spans and per-operation traces in memory; written out once, at
  * the end of a traced run.
  */
final class Tracer(spark: SparkSession) {
  val recorder = new Recorder
  private var spanSeq = 0
  private var opSeq = 0
  private val spansBuf = mutable.ArrayBuffer[Span]()

  def nextSpan(): Int = synchronized { spanSeq += 1; spanSeq }

  /** Runs `f` as one traced operation named `name`. */
  def op[A](name: String)(f: => A): (A, OpTrace) = {
    opSeq += 1
    val t0 = Clock.nowMs
    val a = f
    val t1 = Clock.nowMs
    val t = recorder.op(spark, opSeq, name, t0, t1, () => nextSpan())
    spansBuf ++= t.spans
    (a, t)
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spansBuf.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
