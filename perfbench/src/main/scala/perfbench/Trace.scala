package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark span: a call the benchmark makes into a layer. Times are
  * epoch milliseconds with sub-millisecond resolution, on the same clock
  * Spark stamps its listener events with.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, var end: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, `span` just runs its body, so the
  * timed runs pay nothing for it.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = Span(spans.size, name, stack.get.headOption.getOrElse(-1), runId, now, Double.NaN)
        spans += sp
        sp
      }
      stack.set(s.id :: stack.get)
      try body
      finally { s.end = now; stack.set(stack.get.tail) }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Listener counters, each stamped with the time Spark recorded it, so it
  * can be attributed to the benchmark span that was open at that moment.
  */
final case class Ev(time: Double, key: String, value: Double)

final class Recorder extends SparkListener with QueryExecutionListener {
  private val evs = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
  private def add(t: Double, k: String, v: Double): Unit = { evs.add(Ev(t, k, v)); () }
  def events: Seq[Ev] = { import scala.jdk.CollectionConverters._; evs.asScala.toList }

  override def onJobStart(e: SparkListenerJobStart): Unit = add(e.time.toDouble, "sched.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble, "sched.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = e.taskInfo.finishTime.toDouble
    add(t, "sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(t, "exec.run_s", m.executorRunTime / 1e3)
      add(t, "exec.cpu_s", m.executorCpuTime / 1e9)
      add(t, "exec.gc_s", m.jvmGCTime / 1e3)
      add(t, "scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add(t, "scan.rows_read", m.inputMetrics.recordsRead.toDouble)
      add(t, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(t, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(t, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(t, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add(t, "output.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      add(t, "output.rows_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  private def planned(qe: QueryExecution): Double = {
    val p = qe.tracker.phases
    p.get("planning").orElse(p.get("optimization")).map(_.endTimeMs.toDouble)
      .getOrElse(System.currentTimeMillis().toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = planned(qe)
    add(t, "plan.actions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      add(t, s"plan.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
    }
    operatorMetrics(qe.executedPlan).foreach { case (k, v) => add(t, k, v) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(planned(qe), "plan.actions", 1)

  /** SQLMetrics summed by operator kind over the final (post-AQE) plan,
    * subqueries included, reused exchanges counted once.
    */
  private def operatorMetrics(root: SparkPlan): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    def metric(p: SparkPlan, name: String): Option[Double] =
      p.metrics.get(name).map(_.value.toDouble)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        metric(other, "aggTime").foreach(v => out += ("op.agg_time_s" -> v / 1e3))
        metric(other, "sortTime").foreach(v => out += ("op.sort_time_s" -> v / 1e3))
        metric(other, "scanTime").foreach(v => out += ("scan.time_s" -> v / 1e3))
        other match {
          case b: BroadcastExchangeExec =>
            metric(b, "buildTime").foreach(v => out += ("op.broadcast_build_s" -> v / 1e3))
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add(t, "stream.triggers", 1)
      add(t, "stream.trigger_s", d("triggerExecution"))
      add(t, "stream.add_batch_s", d("addBatch"))
      add(t, "stream.query_planning_s", d("queryPlanning"))
      add(t, "stream.wal_commit_s", d("walCommit"))
      add(t, "stream.state_commit_s", p.stateOperators.map(_.commitTimeMs / 1e3).sum)
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** A [[graft.runner.CheckpointStore]] whose public methods run inside
  * spans. Methods the store calls on itself (upsert inside markDoneBulk,
  * readAll inside upsert) dispatch here too and nest as child spans.
  */
final class TimedCheckpointStore(spark: SparkSession, path: String, tracer: Tracer)
    extends graft.runner.CheckpointStore(spark, path) {
  import graft.model.Checkpoint
  override def readAll(): org.apache.spark.sql.Dataset[Checkpoint] =
    tracer.span("checkpoint.readAll")(super.readAll())
  override def upsert(rows: Seq[Checkpoint]): Unit =
    tracer.span("checkpoint.upsert")(super.upsert(rows))
  override def markProcessing(partIds: Seq[String], ruleVersion: String): Unit =
    tracer.span("checkpoint.markProcessing")(super.markProcessing(partIds, ruleVersion))
  override def markDone(partId: String, success: Boolean, ruleVersion: String,
                        metricsJson: String): Unit =
    tracer.span("checkpoint.markDone")(super.markDone(partId, success, ruleVersion, metricsJson))
  override def markDoneBulk(results: Seq[(String, Boolean, String)], ruleVersion: String): Unit =
    tracer.span("checkpoint.markDoneBulk")(super.markDoneBulk(results, ruleVersion))
  override def pending(allParts: Seq[String], ruleVersion: String): Seq[String] =
    tracer.span("checkpoint.pending")(super.pending(allParts, ruleVersion))
}
