package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: the run itself, a call into a layer, or a
  * Spark job the call started. Times are epoch nanoseconds. Counters are
  * what the listeners attributed to this span alone (not its children). */
final class Span(val id: Int, val parent: Int, val name: String,
    val kind: String, val start: Long) {
  @volatile var end: Long = -1L
  var jobs, stages, tasks = 0L
  var runMs, gcMs, shuffleWrite, shuffleRead, spill, scan = 0L
  var pairJoinPlans = 0L
}

/** In-memory tracer for the benchmark's traced run.
  *
  * `span` wraps a call into one layer: it opens a span under the current
  * one and sets the `perfbench.span` local property, so the SparkListener
  * attributes every job, stage, task, shuffle byte and spill byte the call
  * causes to it. A QueryExecutionListener counts executed plans that hold
  * the Swivel `doc_id` self-join. Spans of one run share `runId`, stay in
  * memory, and are written out by `dump` when the run ends. */
object Trace {
  val Property = "perfbench.span"
  val runId: String = java.util.UUID.randomUUID().toString

  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpoch + (System.nanoTime() - baseNano)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  val root: Span = newSpan(-1, "run", "run", now())
  @volatile private var current: Span = root

  // storage memory held in blocks, from BlockUpdated events
  private val blockMem = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storageNow, storagePeak = 0L

  private def newSpan(parent: Int, name: String, kind: String, start: Long): Span =
    spans.synchronized {
      val s = new Span(spans.size, parent, name, kind, start)
      spans += s
      byId.put(s.id, s)
      s
    }

  /** Runs `body` as a child span of the current one. */
  def span[A](sc: SparkContext, name: String, kind: String = "layer")(body: => A): (A, Span) = {
    val parent = current
    val s = newSpan(parent.id, name, kind, now())
    val prev = sc.getLocalProperty(Property)
    current = s
    sc.setLocalProperty(Property, s.id.toString)
    try {
      val r = body
      s.end = now()
      if (!sc.isStopped) BusDrain.drain(sc)
      (r, s)
    } finally {
      if (s.end < 0) s.end = now()
      current = parent
      sc.setLocalProperty(Property, prev)
    }
  }

  private val contexts = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Registers the listeners once per context and once per session. */
  def install(spark: SparkSession): Unit = synchronized {
    if (contexts.add(spark.sparkContext)) {
      // blocks of a stopped context are gone without removal events
      blockMem.clear()
      storageNow = 0L
      storagePeak = 0L
      spark.sparkContext.addSparkListener(JobListener)
    }
    if (sessions.add(spark)) spark.listenerManager.register(PlanListener)
  }

  def resetStoragePeak(): Unit = { storagePeak = storageNow }
  def storageBytes: Long = storageNow
  def storagePeakBytes: Long = storagePeak

  private def owner(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Property)))
      .flatMap(id => Option(byId.get(id.toInt))).getOrElse(root)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = owner(e.properties)
      layer.synchronized(layer.jobs += 1)
      val js = newSpan(layer.id, s"job ${e.jobId}", "job", e.time * 1000000L)
      jobSpan.put(e.jobId, js)
      e.stageIds.foreach(stageSpan.put(_, layer))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val layer = Option(stageSpan.remove(info.stageId)).getOrElse(root)
      val m = info.taskMetrics
      layer.synchronized {
        layer.stages += 1
        layer.tasks += info.numTasks
        if (m != null) {
          layer.runMs += m.executorRunTime
          layer.gcMs += m.jvmGCTime
          layer.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          layer.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          layer.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          layer.scan += m.inputMetrics.bytesRead
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val key = b.blockManagerId.toString + "/" + b.blockId.name
      val mem = if (b.storageLevel.isValid) b.memSize else 0L
      val old = Option(blockMem.put(key, mem)).map(_.longValue).getOrElse(0L)
      synchronized {
        storageNow += mem - old
        if (storageNow > storagePeak) storagePeak = storageNow
      }
    }
  }

  private object PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (collectWithSubqueries(qe.executedPlan) { case j: BaseJoinExec if docIdJoin(j) => j }.nonEmpty) {
        val s = current
        s.synchronized(s.pairJoinPlans += 1)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    private def docIdJoin(j: BaseJoinExec): Boolean = {
      def onDocId(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "doc_id"))
      onDocId(j.leftKeys) && onDocId(j.rightKeys)
    }
  }

  /** Spans below `s`, itself included. */
  def subtree(s: Span): Seq[Span] = {
    val all = spans.synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    def walk(x: Span): List[Span] = x :: kids.getOrElse(x.id, Nil).flatMap(walk)
    walk(s)
  }

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.synchronized(spans.filter(_.parent == s.id).toList)
      .filter(_.end >= 0).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    for ((a, b) <- kids) {
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start) - covered
  }

  /** Writes every span as one JSON line. */
  def dump(path: String): Unit = {
    val all = spans.synchronized(spans.toList)
    if (root.end < 0) root.end = now()
    val lines = all.map { s =>
      Json.write(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> (if (s.end >= 0) selfNs(s) else -1L),
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "executor_run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
        "spill_bytes" -> s.spill, "scan_bytes" -> s.scan,
        "pair_join_plans" -> s.pairJoinPlans))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}
