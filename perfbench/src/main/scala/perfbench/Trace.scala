package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed call into a layer. `parent` is the id of the enclosing span,
  * -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the same
  * job code serves the untraced and the traced runs. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** The most recent span with this name. */
  def last(name: String): Span = spans.filter(_.name == name).last
}

/** Scheduler counters over one measured interval, from a SparkListener. */
final case class Counters(
    jobs: Int, stages: Int, tasks: Int, runS: Double, gcS: Double,
    shuffleMb: Double, spillMb: Double,
    /** max ÷ median task duration in the stage with the longest wall time */
    skew: Double) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runS - o.runS, gcS - o.gcS, shuffleMb - o.shuffleMb,
    spillMb - o.spillMb, skew)
}

final class EngineListener(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks = 0
  private var runMs, gcMs, shuffleBytes, spillBytes = 0L
  private val stageWallMs = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    stageWallMs(i.stageId) =
      i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  /** Clears the counters; call between measured intervals. */
  def reset(): Unit = {
    Bus.drain(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      runMs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0
      stageWallMs.clear(); taskMs.clear()
    }
  }

  /** Counters since the last reset, once every pending event is delivered. */
  def read(): Counters = {
    Bus.drain(sc)
    synchronized {
      val skew = if (stageWallMs.isEmpty) 1.0 else {
        val slowest = stageWallMs.maxBy(_._2)._1
        val ds = taskMs.getOrElse(slowest, mutable.ArrayBuffer(1L)).sorted
        ds.last.toDouble / math.max(1L, ds(ds.size / 2))
      }
      Counters(jobs, stages, tasks, runMs / 1e3, gcMs / 1e3,
        shuffleBytes / 1e6, spillBytes / 1e6, skew)
    }
  }
}

/** Plan facts of a DataFrame: Catalyst time to a physical plan, and after one
  * execution the whole-stage-codegen stages and interpreted
  * (`CodegenFallback`) expressions of the final adaptive plan. */
object PlanProbe extends AdaptiveSparkPlanHelper {
  final case class Facts(planS: Double, codegenStages: Int, fallbackExprs: Int)

  def apply(df: => DataFrame): Facts = {
    val t0 = System.nanoTime()
    val qe = df.queryExecution
    qe.executedPlan
    val planS = (System.nanoTime() - t0) / 1e9
    SQLExecution.withNewExecutionId(qe, Some("perfbench plan probe")) {
      qe.toRdd.foreach(_ => ())
    }
    val plan: SparkPlan = qe.executedPlan
    var stages, fallbacks = 0
    foreach(plan) { p =>
      if (p.isInstanceOf[WholeStageCodegenExec]) stages += 1
      fallbacks += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }
    Facts(planS, stages, fallbacks)
  }
}
