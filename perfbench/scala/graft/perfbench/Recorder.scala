package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Access
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what one benchmark run measures.
  *
  * Always: each operation's wall time and the peak post-GC heap. With
  * tracing on, also spans (name, start, end, parent, operation key) around
  * every layer call, and per-operation counters from a `SparkListener`, a
  * `QueryExecutionListener` and the codegen counters. Spans and counters
  * stay in memory; [[Harness]] writes them when the run ends.
  *
  * Operations run one at a time. Spark events are attributed through the
  * local properties set on the submitting thread (inherited by the
  * threads a stage body or a stream starts), and after each traced
  * operation the listener bus is drained so no event of one operation is
  * counted under the next.
  */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ---- spans: (id, parent, layer, name, key, startMs, endMs)
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      key: String, start: Double, var end: Double = Double.NaN)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private def newSpan(parent: Int, layer: String, name: String, key: String,
      start: Double): Span = spans.synchronized {
    val s = Span(nextId, parent, layer, name, key, start)
    nextId += 1; spans += s; s
  }
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  /** Run `body` inside a span of `layer`; a no-op wrapper when tracing is
    * off. The new span's parent is the enclosing span on this thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!trace) body
    else {
      val parent = stack.get.headOption
      val s = newSpan(parent.map(_.id).getOrElse(0), layer, name, curKey, nowMs)
      stack.set(s :: stack.get)
      sc.setLocalProperty("perfbench.span", s.id.toString)
      if (layer == "pipeline") sc.setLocalProperty("perfbench.sub", name)
      try body
      finally {
        s.end = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty("perfbench.span", parent.map(_.id.toString).orNull)
        if (layer == "pipeline") sc.setLocalProperty("perfbench.sub", null)
      }
    }

  // ---- operations
  final case class Op(key: String, pass: String, kind: String, name: String,
      ms: Double, ok: Boolean, err: String, extra: Map[String, Any])
  val ops = mutable.ArrayBuffer.empty[Op]
  @volatile private var curKey = ""
  private var firstOpMs = Double.NaN

  /** Time one operation; failures are recorded, never rethrown. `body`
    * returns extra fields for the operation's record. */
  def op(pass: String, kind: String, name: String, key: String)(
      body: => Map[String, Any]): Op = {
    curKey = key
    sc.setLocalProperty("perfbench.key", key)
    val cg0 = if (trace) Access.codegen() else (0L, 0L)
    if (firstOpMs.isNaN) firstOpMs = nowMs
    val t0 = System.nanoTime()
    val (ok, err, extra) =
      try { val e = span("op", name)(body); (true, "", e) }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          (false, String.valueOf(e).take(300), Map.empty[String, Any])
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (trace) {
      Access.drainListeners(sc)
      val cg1 = Access.codegen()
      add(key, "codegen.compiles", (cg1._1 - cg0._1).toDouble)
      add(key, "codegen.compile_ms", (cg1._2 - cg0._2) / 1e6)
    }
    sampleStorage()
    val o = Op(key, pass, kind, name, ms, ok, err, extra)
    ops += o
    o
  }

  /** End of the timed window: later Spark work (the checks) is counted
    * under no operation. */
  def endOps(): Unit = {
    lastOpEndMs = nowMs
    curKey = "checks"
    sc.setLocalProperty("perfbench.key", curKey)
    sc.setLocalProperty("perfbench.phase", null)
  }

  /** Mark the phase whose Spark jobs follow (`build` or `execute`). */
  def phase(p: String): Unit = sc.setLocalProperty("perfbench.phase", p)

  def firstOp: Double = firstOpMs
  var lastOpEndMs = Double.NaN

  // ---- counters per operation key
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  def add(key: String, name: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(key, _ => new ConcurrentHashMap[String, Double]())
    m.merge(name, v, (a: Double, b: Double) => a + b); ()
  }

  // ---- peak post-GC heap (GC notifications cost nothing between GCs)
  @volatile var heapLivePeak = 0L
  locally {
    import javax.management.{NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val l: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        if (live > heapLivePeak) heapLivePeak = live
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }

  // ---- peak Spark block storage
  var cachedBytesPeak = 0L
  private def sampleStorage(): Unit = if (trace) {
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    if (used > cachedBytesPeak) cachedBytesPeak = used
  }

  // ---- listeners (tracing only)
  // stage -> counter keys: the operation key, plus `key/stage` inside a
  // pipeline stage span
  private val stageKey = new ConcurrentHashMap[Int, Seq[String]]()
  private val stageParent = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpanOpen = new ConcurrentHashMap[Int, Span]()

  if (trace) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(n: String) = props.flatMap(p => Option(p.getProperty(n)))
        val key = prop("perfbench.key").getOrElse(curKey)
        val keys = key +: prop("perfbench.sub").map(s => s"$key/$s").toSeq
        keys.foreach(add(_, "exec.jobs", 1))
        if (prop("perfbench.phase").contains("build")) add(key, "queries.build_jobs", 1)
        val parent = prop("perfbench.span").map(_.toInt).getOrElse(0)
        val s = newSpan(parent, "job", s"job ${e.jobId}", key, e.time.toDouble)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach { id =>
          stageKey.putIfAbsent(id, keys); stageParent.putIfAbsent(id, s.id)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time.toDouble)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val id = e.stageInfo.stageId
        val keys = stageKey.getOrDefault(id, Seq(curKey))
        keys.foreach(add(_, "exec.stages", 1))
        val start = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(nowMs)
        stageSpanOpen.put(id, newSpan(Option(stageParent.get(id)).map(_.intValue).getOrElse(0),
          "stage", s"stage $id", keys.head, start))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpanOpen.remove(e.stageInfo.stageId)).foreach { s =>
          s.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val keys = stageKey.getOrDefault(e.stageId, Seq(curKey))
        def add(name: String, v: Double): Unit = keys.foreach(Recorder.this.add(_, name, v))
        add("exec.tasks", 1)
        if (e.reason != org.apache.spark.Success) add("exec.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
          add("exec.shuffle_read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = {
        val p = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { n =>
          p.get(n).foreach(s => add(curKey, s"sql.${n}_ms", s.durationMs.toDouble))
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
  }

  def spanRows: Seq[Seq[Any]] = spans.synchronized {
    spans.toSeq.map(s => Seq(s.id, s.parent, s.layer, s.name, s.key, s.start,
      if (s.end.isNaN) s.start else s.end))
  }

  def counterMap: Map[String, Map[String, Double]] =
    counters.asScala.map { case (k, m) => k -> m.asScala.toMap }.toMap
}
