package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary: pass, op, action, job or stage.
  * `parent` is the id of the span that caused it (0 for a pass). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** Counts and busy times one operation caused, summed from listener events. */
final class OpCounters {
  val values: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
    .withDefaultValue(0.0)
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  def add(name: String, v: Double): Unit = values(name) += v
}

/** The traced run's observer. It registers only public interfaces — a
  * `SparkListener` for jobs, stages, tasks and blocks, and a
  * `QueryExecutionListener` for each action's planning phases — and turns
  * their events into per-operation counters and a span tree. The harness
  * brackets every operation with `open`/`close`, draining the listener bus
  * on both sides, so every event delivered in between belongs to that
  * operation (one operation is in flight at a time). */
final class Tracer(spark: SparkSession, nextId: () => Long) {
  private val sc: SparkContext = spark.sparkContext
  private val mb = 1024.0 * 1024.0

  private var op: Option[(Long, OpCounters)] = None
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val jobOpen = mutable.Map[Int, (Long, Long, Long)]()   // job -> (span, start, parent)
  private val stageJob = mutable.Map[Int, Long]()                // stage -> job span
  private val execOpen = mutable.Map[Long, (Long, Long)]()       // execution -> (span, start)
  private var codegen0 = (0L, 0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      op.foreach { case (opSpan, _) =>
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val parent = exec.flatMap(execOpen.get).map(_._1).getOrElse(opSpan)
        val id = nextId()
        jobOpen(e.jobId) = (id, e.time, parent)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for ((_, c) <- op; (id, start, parent) <- jobOpen.remove(e.jobId)) {
        spans += Span(id, parent, "job", s"job ${e.jobId}", start, e.time)
        c.jobIntervals += ((start, e.time))
        c.add("driver.jobs", 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      op.foreach { case (opSpan, c) =>
        val info = e.stageInfo
        c.add("exec.stages", 1)
        c.add("exec.tasks", info.numTasks)
        if (info.numTasks == 1) c.add("exec.single_task_stages", 1)
        for (start <- info.submissionTime; end <- info.completionTime)
          spans += Span(nextId(), stageJob.getOrElse(info.stageId, opSpan), "stage",
            s"stage ${info.stageId} (${info.numTasks} tasks)", start, end)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for ((_, c) <- op; m <- Option(e.taskMetrics)) {
        c.add("exec.run_s", m.executorRunTime / 1e3)
        c.add("exec.cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        c.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        c.add("shuffle.spill_mb", m.diskBytesSpilled / mb)
        c.add("io.input_mb", m.inputMetrics.bytesRead / mb)
        c.add("io.output_mb", m.outputMetrics.bytesWritten / mb)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      for ((_, c) <- op if info.blockId.isRDD && info.storageLevel.isValid)
        c.add("storage.rdd_blocks", 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      op.foreach { case (opSpan, _) =>
        e match {
          case s: SparkListenerSQLExecutionStart =>
            execOpen(s.executionId) = (nextId(), s.time)
          case s: SparkListenerSQLExecutionEnd =>
            execOpen.remove(s.executionId).foreach { case (id, start) =>
              spans += Span(id, opSpan, "action", s"execution ${s.executionId}", start, s.time)
            }
          case _ =>
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      op.foreach { case (_, c) =>
        val ph = qe.tracker.phases
        def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L) / 1e3
        c.add("plan.actions", 1)
        c.add("plan.analysis_s", ms("analysis"))
        c.add("plan.optimizer_s", ms("optimization"))
        c.add("plan.physical_s", ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** Janino compilations so far and their summed milliseconds (the
    * histogram keeps every sample until it holds 1028; past that the sum
    * is estimated from the retained samples' mean). */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val vals = h.getSnapshot.getValues
    val n = h.getCount
    val sum = if (vals.isEmpty) 0L
      else if (vals.length >= n) vals.sum
      else (vals.sum.toDouble / vals.length * n).toLong
    (n, sum)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Start attributing events to the operation whose span is `opSpan`. */
  def open(opSpan: Long): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { op = Some((opSpan, new OpCounters)) }
    codegen0 = codegen()
  }

  /** Stop attributing; returns the operation's counters, including the
    * driver-only time: its wall minus the union of its job intervals. */
  def close(startMs: Long, endMs: Long): OpCounters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val c = synchronized { val c = op.get._2; op = None; jobOpen.clear(); c }
    val (n1, ms1) = codegen()
    c.add("plan.codegen_classes", (n1 - codegen0._1).toDouble)
    c.add("plan.codegen_s", (ms1 - codegen0._2) / 1e3)
    c.add("driver.idle_s", math.max(0L, endMs - startMs - Tracer.union(c.jobIntervals.toSeq)) / 1e3)
    c
  }
}

object Tracer {
  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}
