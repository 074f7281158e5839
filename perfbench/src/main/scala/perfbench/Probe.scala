package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** What Spark did during one span (one timed operation, or part of one). */
final class Span(val name: String) {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planMs = 0L
  var codegenCompiles = 0L
  var codegenNs = 0L
  val taskIntervals = ArrayBuffer[(Long, Long)]()
  val plans = ArrayBuffer[String]()

  def wallMs: Long = endMs - startMs
  /** Time inside the span with no task running. */
  def outsideTasksMs: Long = Stats.uncovered((startMs, endMs), taskIntervals.toSeq)
  /** Sum of task durations inside the span, in milliseconds. */
  def busyMs: Long = taskIntervals.iterator.map { case (a, b) =>
    math.max(0L, math.min(b, endMs) - math.max(a, startMs))
  }.sum
}

/** Forwards every session's query executions to the active [[Probe]].
  * Registered through `spark.sql.queryExecutionListeners`, so sessions a
  * query body forks with `newSession()` report too. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Probe.active.foreach(_.onQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Probe {
  @volatile var active: Option[Probe] = None
}

/** The engine layer as seen from outside: a SparkListener plus a
  * QueryExecutionListener ([[PlanListener]]), attached only in traced
  * runs. Events are charged to the span open when they are delivered;
  * [[open]] and [[close]] drain the listener bus first, so a span holds
  * exactly the events its operation caused (operations run one at a time
  * on one thread). */
final class Probe(spark: SparkSession, root: String) extends SparkListener {
  private var cur: Span = new Span("idle")
  private var compiles0 = 0L
  private var codegenNs0 = 0L

  spark.sparkContext.addSparkListener(this)
  Probe.active = Some(this)

  private def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def codegenNs: Long = CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime

  def open(name: String): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized { cur = new Span(name) }
    compiles0 = codegenCount
    codegenNs0 = codegenNs
    cur.startMs = System.currentTimeMillis()
  }

  def close(): Span = {
    val end = System.currentTimeMillis()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      val s = cur
      s.endMs = end
      s.codegenCompiles = codegenCount - compiles0
      s.codegenNs = codegenNs - codegenNs0
      cur = new Span("idle")
      s
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { cur.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = cur
    s.tasks += 1
    val info = e.taskInfo
    if (info != null) s.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def onQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.map(_.durationMs).sum
    val plan = PlanHash.normalize(qe.executedPlan.toString, root)
    synchronized {
      cur.planMs += phases
      cur.plans += plan
    }
  }
}

/** Plan fingerprints that survive re-runs: the expression, plan and RDD
  * ids Spark numbers per session are replaced the way `scripts/plans.sh`
  * does for the committed plan snapshots, and so are the values that
  * differ between checkouts and runs: the checkout root, the fixture
  * fingerprint inside scratch artifact names, the process id and random
  * suffix of their temporary build directories, and random UUIDs. Equal hashes mean the same
  * plan; a timing change under an equal hash is host noise or runtime
  * work, not a plan change. */
object PlanHash {
  def normalize(plan: String, root: String): String =
    plan.replace(root, "<root>")
      .replaceAll("#[0-9]+", "#N")
      .replaceAll("plan_id=[0-9]+", "plan_id=N")
      .replaceAll("(Subquery|subquery|cte)([ _]?)[0-9]+", "$1$2N")
      .replaceAll("RDD\\[[0-9]+\\]", "RDD[N]")
      .replaceAll("Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "Lambda\\$N")
      .replaceAll("=[0-9a-f]{6,}=", "=FP=")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
      .replaceAll("=[0-9]+=[0-9a-f]{8}(?=[/\\s,\\]]|$)", "=PID=TMP")

  def of(plans: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    plans.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
