package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it, with the task counters of
  * all its stages. `call` is the span id the driver thread carried as a
  * local property when it submitted the job. */
final class JobRec(val id: Int, val call: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var scanBytes = 0L
  var scanRows = 0L
}

/** Planning cost and final-plan shape of one query execution. */
final case class PlanRec(planMs: Double, exchanges: Int)

/** A call into the repo (build, execute, write or read) inside an op. */
final case class CallSpan(id: String, kind: String, layer: String, name: String,
                          startMs: Double, endMs: Double,
                          jobs: Seq[JobRec], plans: Seq[PlanRec]) {
  def wallMs: Double = endMs - startMs
  /** Length of the union of this call's job intervals, clipped to the call. */
  def jobMs: Double = {
    val iv = jobs.map(j => (math.max(j.startMs.toDouble, startMs), math.min(j.endMs.toDouble, endMs)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0.0
    var reach = Double.NegativeInfinity
    iv.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered
  }
}

final case class OpSpan(id: String, pass: Int, name: String, startMs: Double, endMs: Double,
                        calls: Seq[CallSpan], ok: Boolean, cachedBytesAfter: Long) {
  def wallMs: Double = endMs - startMs
}

/** Collects Spark's own counters through a SparkListener and a
  * QueryExecutionListener, and the benchmark's spans (op → call → job) in
  * memory. The loop is single-threaded, so the bus is drained after each
  * call and everything it delivered belongs to that call. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val call = Option(e.properties).map(_.getProperty(Tracer.CallKey)).orNull
      val j = new JobRec(e.jobId, call, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val rec = PlanRec(planMs, Tracer.exchanges(qe.executedPlan))
      sparkListener.synchronized { plans += rec }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Everything delivered since the last take. */
  private def take(): (Seq[JobRec], Seq[PlanRec]) = {
    PerfbenchBus.drain(sc)
    sparkListener.synchronized {
      val out = (jobs.values.toList, plans.toList)
      jobs.clear(); stageJob.clear(); plans.clear()
      out
    }
  }

  private var seq = 0
  private val calls = mutable.ArrayBuffer.empty[CallSpan]
  val ops = mutable.ArrayBuffer.empty[OpSpan]
  /** Jobs whose local property named another call than the one draining them. */
  var misattributed = 0

  def call[T](opId: String, kind: String, layer: String, name: String)(body: => T): T = {
    take() // anything pending belongs to no call of this op
    seq += 1
    val id = s"$opId.$seq"
    sc.setLocalProperty(Tracer.CallKey, id)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      sc.setLocalProperty(Tracer.CallKey, null)
      val (js, ps) = take()
      misattributed += js.count(_.call != id)
      calls += CallSpan(id, kind, layer, name, t0, t1, js, ps)
    }
  }

  def op(id: String, pass: Int, name: String, t0: Double, ok: Boolean): Unit = {
    val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    ops += OpSpan(id, pass, name, t0, now(), calls.toList, ok, cached)
    calls.clear()
  }
}

object Tracer {
  val CallKey = "perfbench.call"

  /** Exchanges in the final physical plan: shuffles and broadcasts that
    * run, including those inside subqueries; a reused exchange runs once. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case _ =>
      val self = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      }
      self + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}
