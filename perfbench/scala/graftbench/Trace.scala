package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports for the jobs and queries of one call. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
}

/** Attributes jobs, stages and task metrics to the call whose label the
  * driver thread carried as a local property when the job started. */
final class CallListener extends SparkListener {
  private val stageCall = mutable.HashMap.empty[Int, String]
  val counts: mutable.HashMap[String, Counts] = mutable.HashMap.empty

  private def of(label: String) = counts.getOrElseUpdate(label, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.CallKey))).foreach { l =>
      of(l).jobs += 1
      e.stageIds.foreach(stageCall(_) = l)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { l =>
      val c = of(l)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Planning time of every Dataset action (optimization + physical planning,
  * from the query's own planning tracker), attributed to the call whose
  * wall-clock interval holds the end of planning. */
final class PlanListener(callAt: Long => Option[String], counts: String => Counts)
    extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("optimization", "planning").flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    phases.get("planning").flatMap(p => callAt(p.endTimeMs)).foreach { l =>
      val c = counts(l)
      c.synchronized { c.planMs += ms }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** The traced mode: spans around every call into a layer, Spark's counts per
  * call, and a few counters only the traced rounds take. Inactive rounds
  * run with no listener registered and record nothing. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val origin = System.nanoTime()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var active0 = false
  def active: Boolean = active0

  private val calls = mutable.ArrayBuffer.empty[(String, String, Long, Long, Double)] // op, label, start ms, end ms, seconds
  private val extras = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private val lastLabel = mutable.HashMap.empty[String, String]
  private val callListener = new CallListener
  private val planListener = new PlanListener(
    t => calls.synchronized(calls.find(c => c._3 <= t && t <= c._4).map(_._2)),
    l => callListener.synchronized(callListener.counts.getOrElseUpdate(l, new Counts)))

  def startRound(traced: Boolean): Unit = if (enabled && traced) {
    sc.addSparkListener(callListener)
    spark.listenerManager.register(planListener)
    active0 = true
  }

  def endRound(): Unit = if (active0) {
    org.apache.spark.graftbench.ListenerBusDrain(sc)
    sc.removeSparkListener(callListener)
    spark.listenerManager.unregister(planListener)
    active0 = false
  }

  def span[T](name: String)(body: => T): T =
    if (!active0) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), System.nanoTime() - origin, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime() - origin)
      }
    }

  /** Runs one call of `op` under `label`; Spark jobs it starts carry the label. */
  def call[T](op: String, label: String)(body: => T): T =
    if (!active0) body
    else {
      lastLabel(op) = label
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // open-ended until the call returns: query events can arrive before that
      val i = calls.synchronized { calls += ((op, label, start, Long.MaxValue, 0.0)); calls.size - 1 }
      sc.setLocalProperty(Trace.CallKey, label)
      try span(op)(body)
      finally {
        sc.setLocalProperty(Trace.CallKey, null)
        calls.synchronized(calls(i) = (op, label, start, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9))
      }
    }

  /** An op-specific counter for the latest call of `op`. */
  def extra(op: String, metric: String, value: Double): Unit =
    if (active0) lastLabel.get(op).foreach(l => extras.getOrElseUpdate(l, mutable.HashMap.empty)(metric) = value)

  /** Per-layer metrics: for each op, the median over its traced calls. */
  def metrics(slots: Int): Seq[(String, Double, String)] = {
    val perOp = calls.groupBy(_._1)
    Trace.Ops.flatMap { op =>
      val cs = perOp.getOrElse(op, mutable.ArrayBuffer.empty).toSeq
      def med(f: ((String, String, Long, Long, Double), Counts) => Double): Double =
        Main.median(cs.map(c => f(c, callListener.counts.getOrElse(c._2, new Counts))))
      val execMs = (c: (String, String, Long, Long, Double), k: Counts) => c._5 * 1e3 - k.planMs
      Seq(
        (s"$op.plan_ms", med((_, k) => k.planMs.toDouble), "ms"),
        (s"$op.exec_ms", med(execMs), "ms"),
        (s"$op.sched_wait_ms", med((c, k) => execMs(c, k) - k.runMs.toDouble / slots), "ms"),
        (s"$op.jobs", med((_, k) => k.jobs.toDouble), "count"),
        (s"$op.stages", med((_, k) => k.stages.toDouble), "count"),
        (s"$op.tasks", med((_, k) => k.tasks.toDouble), "count"),
        (s"$op.executor_cpu_ms", med((_, k) => k.cpuNs / 1e6), "ms"),
        (s"$op.gc_ms", med((_, k) => k.gcMs.toDouble), "ms"),
        (s"$op.shuffle_bytes", med((_, k) => k.shuffleBytes.toDouble), "bytes"),
        (s"$op.spill_bytes", med((_, k) => k.spillBytes.toDouble), "bytes")
      ) ++ Trace.Extras.filter(_._1 == op).map { case (_, m, unit) =>
        (s"$op.$m", Main.median(cs.flatMap(c => extras.get(c._2).flatMap(_.get(m)))), unit)
      }
    }
  }

  /** Spans, per-call counts and the tracing overhead, as one JSON document. */
  def write(path: String, header: Seq[(String, String)]): Unit = {
    val sb = new StringBuilder("{\n")
    header.foreach { case (k, v) => sb.append(s"""  "$k": $v,\n""") }
    sb.append("  \"spans\": [\n")
    sb.append(spans.map(s =>
      s"""    {"id": ${s.id}, "name": ${Main.jstr(s.name)}, "parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    ).mkString(",\n"))
    sb.append("\n  ],\n  \"calls\": [\n")
    sb.append(calls.map { case (op, label, _, _, secs) =>
      val k = callListener.counts.getOrElse(label, new Counts)
      val ex = extras.getOrElse(label, Map.empty).map { case (m, v) => s""", "$m": ${Main.num(v)}""" }.mkString
      s"""    {"op": "$op", "label": "$label", "seconds": ${Main.num(secs)}, "plan_ms": ${k.planMs}, """ +
        s""""jobs": ${k.jobs}, "stages": ${k.stages}, "tasks": ${k.tasks}, "executor_run_ms": ${k.runMs}, """ +
        s""""executor_cpu_ms": ${Main.num(k.cpuNs / 1e6)}, "gc_ms": ${k.gcMs}, """ +
        s""""shuffle_bytes": ${k.shuffleBytes}, "spill_bytes": ${k.spillBytes}$ex}"""
    }.mkString(",\n"))
    sb.append("\n  ]\n}\n")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val CallKey = "graftbench.call"

  val Ops: Seq[String] = Seq("create", "filter_find", "get_by_id", "knn_single", "knn_batch",
    "ann_build", "ann_search", "dedup_minhash", "dedup_clusters", "text_search",
    "churn_write", "churn_read")

  val Extras: Seq[(String, String, String)] = Seq(
    ("knn_batch", "candidates_scored", "count"),
    ("ann_build", "fit_ms", "ms"),
    ("ann_build", "assign_ms", "ms"),
    ("ann_search", "scan_fraction", "fraction"),
    ("text_search", "docs_scored", "count"),
    ("churn_read", "plan_nodes", "count"))

  private def allNodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  private def rowsOut(p: SparkPlan): Long =
    collect(p) { case x if x.metrics.contains("numOutputRows") => x.metrics("numOutputRows").value }
      .headOption.getOrElse(0L)

  /** (doc, query) pairs the knn kernel scored in an executed query: doc rows
    * into each knn operator times query rows, or the rows of a nested-loop
    * join when the rewrite did not fire. */
  def candidatesScored(df: DataFrame, queries: Int): Double = {
    val nodes = allNodes(df)
    val knn = nodes.filter(_.nodeName.startsWith("Knn"))
    if (knn.nonEmpty) knn.map(k => rowsOut(k.children.head).toDouble * queries).sum
    else nodes.filter(_.nodeName.contains("NestedLoopJoin"))
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L).toDouble).sum
  }

  /** Physical operators in an executed query's plan. */
  def planNodes(df: DataFrame): Int = allNodes(df).size
}
