package evbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-group work counters. A group is the job group the benchmark sets
  * on its own thread around each call into the program, so concurrent
  * units (the DAG workload) keep separate counts.
  */
final class GroupCounts {
  val jobs, stages, tasks = new LongAdder
  val runMs, gcMs, inputBytes, inputRows, outputBytes, outputRows = new LongAdder
  val cpuNs, shuffleWrite, shuffleRead, spill = new LongAdder
  val sinkTasks, sinkTaskMs = new LongAdder

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble, "tasks" -> tasks.sum.toDouble,
    "executor_run_s" -> runMs.sum / 1e3, "executor_cpu_s" -> cpuNs.sum / 1e9, "gc_s" -> gcMs.sum / 1e3,
    "input_bytes" -> inputBytes.sum.toDouble, "input_rows" -> inputRows.sum.toDouble,
    "output_bytes" -> outputBytes.sum.toDouble, "output_rows" -> outputRows.sum.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.sum.toDouble, "shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "spill_bytes" -> spill.sum.toDouble,
    "sink_tasks" -> sinkTasks.sum.toDouble, "sink_task_s" -> sinkTaskMs.sum / 1e3,
  )
}

/** One SparkListener counting jobs, stages and task metrics per job
  * group, plus one QueryExecutionListener summing Catalyst phase times
  * (from `QueryExecution.tracker`) and the evidence-contract counters the
  * K1 sink observes during its write. Both are registered by the
  * benchmark; the program is not changed.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  val analysisMs, optimizationMs, planningMs = new DoubleAdder
  val contractViolations, contractWrites = new AtomicLong

  def group(g: String): GroupCounts = groups.computeIfAbsent(g, _ => new GroupCounts)
  def snapshot: Map[String, Map[String, Double]] = groups.asScala.map { case (k, v) => k -> v.toMap }.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    group(g).jobs.increment()
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    group(stageGroup.getOrDefault(e.stageInfo.stageId, "-")).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = group(stageGroup.getOrDefault(e.stageId, "-"))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.inputRows.add(m.inputMetrics.recordsRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
      c.outputRows.add(m.outputMetrics.recordsWritten)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      // A sink task is one that wrote output bytes.
      if (m.outputMetrics.bytesWritten > 0) {
        c.sinkTasks.increment()
        c.sinkTaskMs.add(m.executorRunTime)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("evidence_contract_")) {
        contractWrites.incrementAndGet()
        contractViolations.addAndGet(graft.core.Qc.contractCounts(row).values.sum)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Catalyst and codegen readings, for taking deltas around a span. */
  def phaseSeconds: Map[String, Double] = Map(
    "analysis_s" -> analysisMs.sum / 1e3,
    "optimization_s" -> optimizationMs.sum / 1e3,
    "planning_s" -> planningMs.sum / 1e3,
    "compiles" -> org.apache.spark.evbench.SparkInternals.codegenCompiles.toDouble,
    "compile_s" -> org.apache.spark.evbench.SparkInternals.codegenCompileSeconds,
  )
}
