package enrichbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counters for the jobs of one job group: the traced
  * run sets the group on its driver thread, so jobs of anything else in
  * the session never count. */
final class GroupListener(val group: String) extends SparkListener {
  /** jobId -> (start ms, end ms); end is 0 until the job ends. */
  val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageIds = ConcurrentHashMap.newKeySet[Int]()
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null &&
        group == e.properties.getProperty("spark.jobGroup.id")) {
      jobs.put(e.jobId, Array(e.time, 0L))
      e.stageIds.foreach(stageIds.add)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(1) = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageIds.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }

  /** Finished job intervals in benchmark-clock microseconds. */
  def jobIntervalsUs: Seq[(Long, Long)] =
    jobs.values.asScala.toSeq.filter(_(1) > 0)
      .map(j => (j(0) * 1000L, j(1) * 1000L))
}

/** One Spark SQL action of a traced run, with the phase it belongs to. */
final case class Action(funcName: String, durationS: Double, phase: String,
                        failed: Boolean)

/** QueryExecutionListener that attributes each SQL action to a phase of
  * the durable path (see [[Phases.classify]]). */
final class ActionLog extends QueryExecutionListener {
  val actions = new ConcurrentLinkedQueue[Action]()
  /** The run's ledger directory, once the run has one. */
  @volatile var ledgerDir: String = ""
  private val seenCaches = ConcurrentHashMap.newKeySet[AnyRef]()
  /** While set, actions are not logged (the benchmark's own reads). */
  @volatile var paused = false

  private def add(f: String, qe: QueryExecution, durNs: Long,
                  failed: Boolean): Unit = if (!paused) {
    // the top logical node names a write command and its output path
    val text = qe.logical.simpleString(200) + "\n" +
      Phases.planText(qe.executedPlan, seenCaches)
    actions.add(Action(f, durNs / 1e9, Phases.classify(f, text, ledgerDir),
      failed))
  }

  override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
    add(f, qe, durNs, failed = false)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(f, qe, 0L, failed = true)

  /** Seconds per phase, as `run.<phase>_s`. A failed action reports no
    * duration; the crash phase is timed as a whole instead. */
  def phaseSeconds: Map[String, Double] = {
    val all = actions.asScala.toSeq
    Phases.Names.map(p => s"run.${p}_s" ->
      all.filter(_.phase == p).map(_.durationS).sum).toMap
  }
}

object Phases {
  val Names: Seq[String] =
    Seq("workset", "ledger_write", "ledger_read", "dedup", "merge", "other")

  /** Phase of one action of the durable path, from its function name and
    * the node descriptions of the plan it executed:
    *  - a write into the ledger is `ledger_write` (it also runs the
    *    chunk's invocation, which the write materializes);
    *  - any other write is chunk staging, part of `workset`;
    *  - the left-anti join against the ledger, or the count and key sketch
    *    over the work set, is `workset`;
    *  - the per-row `max_by` dedup over the ledger is `dedup`;
    *  - another scan of the ledger is `ledger_read`;
    *  - the benchmark's `collect` of the finished table (the merge join)
    *    is `merge`. */
  def classify(funcName: String, plan: String, ledgerDir: String): String = {
    val writes = plan.contains("InsertIntoHadoopFsRelationCommand")
    val ledger = ledgerDir.nonEmpty && plan.contains(ledgerDir)
    if (writes && ledger) "ledger_write"
    else if (writes) "workset"
    else if (plan.contains("LeftAnti") || plan.contains("percentile_approx"))
      "workset"
    else if (plan.contains("max_by")) "dedup"
    else if (ledger) "ledger_read"
    else if (funcName == "collect") "merge"
    else "other"
  }

  /** Node descriptions of an executed plan, one per line. A cached
    * relation's own plan is included only the first time an action reads
    * it, since that action is the one that computes it. */
  def planText(plan: SparkPlan, seenCaches: java.util.Set[AnyRef]): String = {
    val b = new StringBuilder
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        b ++= m.simpleString(200) += '\n'
        if (seenCaches.add(m.relation.cacheBuilder))
          walk(m.relation.cacheBuilder.cachedPlan)
      case other =>
        b ++= other.simpleString(200) += '\n'
        other.children.foreach(walk)
    }
    walk(plan)
    b.toString
  }
}
