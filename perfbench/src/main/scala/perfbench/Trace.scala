package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so benchmark spans and job/stage
  * spans nest on one axis. Spans of one statement share `stmt`.
  */
final case class Span(id: Int, parent: Int, stmt: Int, name: String, start: Double, end: Double)

/** In-memory span recorder. `now` maps System.nanoTime onto the epoch
  * millisecond axis once, so span durations keep nanosecond precision.
  */
final class Tracer {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def span[T](parent: Int, stmt: Int, name: String)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = now()
    try body(id)
    finally spans += Span(id, parent, stmt, name, t0, now())
  }

  def add(parent: Int, stmt: Int, name: String, start: Double, end: Double): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, stmt, name, start, end)
    id
  }
}

/** Task-metric totals of one stage attempt. */
final class StageAgg {
  var submitted = 0.0
  var completed = 0.0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteNs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
}

final case class JobRec(id: Int, group: String, start: Double, var end: Double, stages: Seq[Int])

/** Listener half of the traced run: jobs by job group (the benchmark
  * sets one group per statement), stages with their task totals.
  * Read it only after the SparkContext stopped — stop() drains the
  * listener bus, so every event has been delivered by then.
  */
final class ExecListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobRec(e.jobId, group, e.time.toDouble, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitted = i.submissionTime.getOrElse(0L).toDouble
    s.completed = i.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory)
    }
  }
}

/** SQL-metric totals read from an executed plan: the AQE final plan,
  * walked through query stages; a reused exchange counts once as
  * reused and its subtree is not read twice. Byte, spill and shuffle
  * time totals come from the listener instead, which also sees the
  * jobs a statement runs outside its final plan.
  */
final class PlanAgg {
  val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def add(plan: SparkPlan): Unit = walk(plan)

  private def m(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case q: QueryStageExec        => walk(q.plan); return
      case _: ReusedExchangeExec    => v("exchange.reused") += 1; return
      case _ =>
    }
    val node = p.nodeName
    if (node.contains("Scan") && p.metrics.contains("numFiles")) {
      v("scan.files") += m(p, "numFiles")
      v("scan.bytes") += m(p, "filesSize")
      v("scan.rows") += m(p, "numOutputRows")
      v("scan.time_s") += m(p, "scanTime") / 1e3
    }
    p match {
      case _: ShuffleExchangeExec => v("exchange.count") += 1
      case _: BroadcastExchangeExec =>
        v("exchange.count") += 1
        v("join.build_s") += m(p, "buildTime") / 1e3
      case _: BroadcastHashJoinExec => v("join.bhj") += 1
      case _: ShuffledHashJoinExec =>
        v("join.shj") += 1
        v("join.build_s") += m(p, "buildTime") / 1e3
      case _: SortMergeJoinExec => v("join.smj") += 1
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => v("join.nlj") += 1
      case _ =>
    }
    if (node.contains("Aggregate")) v("agg.time_s") += m(p, "aggTime") / 1e3
    if (node == "Sort") v("sort.time_s") += m(p, "sortTime") / 1e3
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  /** Rows out of the lowest operator that emits (id_a, id_b) pairs:
    * the candidate pairs a dedup pipeline forms before verification.
    */
  def pairCandidates(plan: SparkPlan): Option[Double] = {
    def pairs(p: SparkPlan): Boolean = {
      val names = p.output.map(_.name).toSet
      names("id_a") && names("id_b")
    }
    def go(p: SparkPlan): Option[Double] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec        => go(q.plan)
      case _ if !pairs(p)           => None
      case _ =>
        p.children.iterator.map(go).collectFirst { case Some(x) => x }
          .orElse(p.metrics.get("numOutputRows").map(_.value.toDouble))
    }
    go(plan)
  }
}
