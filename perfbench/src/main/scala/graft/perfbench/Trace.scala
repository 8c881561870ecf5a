package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Half-open time intervals in epoch milliseconds, merged into a union. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Iterable[Iv]): List[Iv] =
    xs.filter(iv => iv._2 > iv._1).toList.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def clip(xs: List[Iv], lo: Double, hi: Double): List[Iv] =
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(iv => iv._2 > iv._1)

  /** `xs` minus `ys`, both unions. */
  def minus(xs: List[Iv], ys: List[Iv]): List[Iv] = xs.flatMap { case (a, b) =>
    ys.foldLeft(List((a, b))) { (parts, y) =>
      parts.flatMap { case (s, e) =>
        if (y._2 <= s || y._1 >= e) List((s, e))
        else List((s, y._1), (y._2, e)).filter(iv => iv._2 > iv._1)
      }
    }
  }

  def length(xs: List[Iv]): Double = xs.map(iv => iv._2 - iv._1).sum
}

/** Everything the benchmark's own listeners saw, kept in memory.
  *
  * Job, stage and task events come from a [[SparkListener]]; Catalyst
  * phase intervals come from each action's `QueryExecution.tracker`,
  * delivered to a [[QueryExecutionListener]]. Both are attached only
  * while a traced pass runs, and are detached only after the listener
  * bus has drained, so nothing is lost to asynchronous delivery.
  */
final class TraceRecorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Task(stage: Int, ok: Boolean, durMs: Double, runMs: Double, cpuNs: Double,
                        gcMs: Double, deserMs: Double, shuffleRead: Double, shuffleWrite: Double,
                        spill: Double, input: Double, output: Double)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stagesRun = mutable.ArrayBuffer.empty[Int]
  /** Catalyst phase intervals: (phase name, start ms, end ms). */
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) Task(e.stageId, info.successful, info.duration.toDouble,
      0, 0, 0, 0, 0, 0, 0, 0, 0)
    else Task(e.stageId, info.successful, info.duration.toDouble,
      m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
      m.executorDeserializeTime.toDouble, m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble, m.diskBytesSpilled.toDouble,
      m.inputMetrics.bytesRead.toDouble, m.outputMetrics.bytesWritten.toDouble))
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)
}

/** Layer split of one query execution. The four time parts are disjoint
  * and cover the query's wall interval:
  *  - `buildS`: construction-time driver work outside jobs and Catalyst,
  *  - `analysisS`/`optimizationS`/`planningS`: Catalyst phases outside jobs,
  *  - `jobS`: union of the Spark job intervals,
  *  - `outsideS`: action-time driver work outside jobs and Catalyst.
  */
final case class QuerySplit(
    name: String, wallS: Double, buildWallS: Double, buildS: Double, buildJobs: Int,
    analysisS: Double, optimizationS: Double, planningS: Double,
    jobS: Double, outsideS: Double, jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    taskS: Double, runS: Double, cpuS: Double, gcS: Double, deserS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    inputMb: Double, outputMb: Double) {
  def partsS: Double = buildS + analysisS + optimizationS + planningS + jobS + outsideS
}

object TraceSplit {
  import Intervals._

  private val Mb = 1024.0 * 1024.0

  /** One query's window: start, end of construction, end of action (epoch ms). */
  final case class Window(name: String, t0: Double, tBuilt: Double, t1: Double)

  def split(rec: TraceRecorder, w: Window): QuerySplit = rec.synchronized {
    // job times are whole milliseconds
    val inWin = rec.jobs.values.filter(j => j.start >= math.floor(w.t0) && j.start <= w.t1).toSeq
    val jobIv = union(inWin.map(j => (j.start, if (j.end.isNaN) w.t1 else j.end)))
    val jobU = clip(jobIv, w.t0, w.t1)
    def phaseU(p: String) =
      minus(clip(union(rec.phases.collect { case (`p`, a, b) => (a, b) }), w.t0, w.t1), jobU)
    val ana = phaseU("analysis")
    val opt = minus(phaseU("optimization"), ana)
    val pla = minus(minus(phaseU("planning"), ana), opt)
    val busy = union(jobU ++ ana ++ opt ++ pla)
    val stageIds = inWin.flatMap(_.stages).toSet
    val ts = rec.tasks.filter(t => stageIds(t.stage))
    QuerySplit(
      name = w.name,
      wallS = (w.t1 - w.t0) / 1e3,
      buildWallS = (w.tBuilt - w.t0) / 1e3,
      buildS = length(minus(List((w.t0, w.tBuilt)), busy)) / 1e3,
      buildJobs = inWin.count(_.start <= w.tBuilt),
      analysisS = length(ana) / 1e3,
      optimizationS = length(opt) / 1e3,
      planningS = length(pla) / 1e3,
      jobS = length(jobU) / 1e3,
      outsideS = length(minus(List((w.tBuilt, w.t1)), busy)) / 1e3,
      jobs = inWin.size,
      stages = rec.stagesRun.count(stageIds),
      tasks = ts.size,
      failedTasks = ts.count(!_.ok),
      taskS = ts.map(_.durMs).sum / 1e3,
      runS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      deserS = ts.map(_.deserMs).sum / 1e3,
      shuffleReadMb = ts.map(_.shuffleRead).sum / Mb,
      shuffleWriteMb = ts.map(_.shuffleWrite).sum / Mb,
      spillMb = ts.map(_.spill).sum / Mb,
      inputMb = ts.map(_.input).sum / Mb,
      outputMb = ts.map(_.output).sum / Mb)
  }
}
