package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** One timed interval of the traced run. Operation spans have no parent;
  * their children are the harness phases and the Spark jobs and stages the
  * listener links back to the operation. */
final case class Span(id: String, parent: String, name: String,
    startMs: Double, durMs: Double)

/** Local properties the client thread sets so that jobs started on its
  * behalf can be linked to the operation and the phase that ran them. */
object Props {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

/** Task, stage and job counters of one operation, summed per phase. */
final class OpCounters {
  val c = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit =
    c.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)
  def get(k: String): Double = Option(c.get(k)).map(_.doubleValue).getOrElse(0.0)
}

/** Reads Spark's public listener events and files them under the operation
  * whose client thread started the job. Events arrive on the listener bus
  * thread after the action returns, so readers call [[fence]] first. */
final class LayerListener extends SparkListener {
  val ops = new ConcurrentHashMap[String, OpCounters]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stageOwner = new ConcurrentHashMap[Integer, (String, String)]()
  private val jobOwner = new ConcurrentHashMap[Integer, (String, Long)]()
  private val stageFirstLaunch = new ConcurrentHashMap[Integer, java.lang.Long]()
  @volatile private var fenceSeen = Set.empty[String]

  private def counters(op: String) =
    ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Props.Op))).orNull
    if (op != null) {
      val phase = props.flatMap(p => Option(p.getProperty(Props.Phase)))
        .getOrElse("exec")
      jobOwner.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOwner.put(s, (op, phase)))
      if (!op.startsWith("fence:")) {
        counters(op).add("jobs", 1)
        if (phase == "build") counters(op).add("build_jobs", 1)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (op, start) =>
      if (op.startsWith("fence:")) fenceSeen += op
      else spans.add(Span(s"job-${e.jobId}", op, "spark.job", start,
        (e.time - start).toDouble))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (op, phase) =>
      val c = counters(op)
      c.add("tasks", 1)
      if (!e.taskInfo.successful) c.add("task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        c.add("task_run_ms", m.executorRunTime.toDouble)
        if (phase == "exec" || phase == "ingest")
          c.add("action_task_run_ms", m.executorRunTime.toDouble)
        c.add("task_cpu_ms", m.executorCpuTime / 1e6)
        c.add("gc_ms", m.jvmGCTime.toDouble)
        c.add("bytes_read", m.inputMetrics.bytesRead.toDouble)
        c.add("rows_read", m.inputMetrics.recordsRead.toDouble)
        c.add("shuffle_written", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        c.add("spill_memory", m.memoryBytesSpilled.toDouble)
        c.add("spill_disk", m.diskBytesSpilled.toDouble)
        c.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
        c.add("records_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val first = Option(stageFirstLaunch.remove(info.stageId))
    Option(stageOwner.remove(info.stageId)).foreach { case (op, _) =>
      if (!op.startsWith("fence:")) {
        val c = counters(op)
        c.add("stages", 1)
        for (sub <- info.submissionTime; f <- first)
          c.add("sched_wait_ms", math.max(0L, f - sub).toDouble)
        for (sub <- info.submissionTime; end <- info.completionTime)
          spans.add(Span(s"stage-${info.stageId}", op, "spark.stage",
            sub.toDouble, (end - sub).toDouble))
      }
    }
  }

  /** Runs a one-task job and waits until its end event has been delivered,
    * so every event posted before it has been handled too. */
  def fence(spark: org.apache.spark.sql.SparkSession): Unit = {
    val id = s"fence:${System.nanoTime}"
    val sc = spark.sparkContext
    sc.setLocalProperty(Props.Op, id)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Props.Op, null)
    val deadline = System.nanoTime + 30L * 1000000000L
    while (!fenceSeen.contains(id) && System.nanoTime < deadline)
      Thread.sleep(2)
  }
}

/** Counts read from an executed physical plan (AQE-aware: the walk
  * descends into adaptive plans and their query stages). */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  def shuffleExchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case s: ShuffleExchangeExec => s }.size

  def broadcasts(p: SparkPlan): Int =
    collectWithSubqueries(p) { case b: BroadcastExchangeExec => b }.size

  def filesRead(p: SparkPlan): Long =
    collectWithSubqueries(p) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Distinct exact-percentile aggregates the plan really computes. */
  def percentileAggregates(p: SparkPlan): Int =
    collectWithSubqueries(p) { case a: BaseAggregateExec =>
      a.aggregateExpressions
        .filter(_.aggregateFunction.isInstanceOf[Percentile])
        .map(_.resultId)
    }.flatten.distinct.size
}

object Spans {
  def json(spans: Iterable[Span]): String =
    spans.map(s => Json.obj(Seq(
      "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
      "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
      "dur_ms" -> Json.num(s.durMs)))).mkString("[\n", ",\n", "\n]")
}
