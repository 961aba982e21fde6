package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the harness makes into a layer. */
final case class Span(id: Long, parent: Long, traceId: Long, name: String,
                      layer: String, startNs: Long, endNs: Long, thread: String)

/** Harness-side tracing: spans around every call into the engine, and
  * Spark task metrics keyed by the job group the harness sets around
  * that call. Disabled (every method a pass-through) unless `enabled`,
  * so an untraced run measures the engine with nothing attached. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span id, trace id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Time `body` as a span named `name`, charged to `layer`. Jobs
    * launched inside it carry the job group `layer|name`. */
  def span[T](name: String, layer: String, sc: => SparkContext = null)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentTrace) = current.get
      val id = ids.incrementAndGet()
      val traceId = if (parentTrace == 0L || parent == Trace.RootId) id else parentTrace
      current.set((id, traceId))
      val ctx = Option(sc)
      val prevGroup = ctx.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
      ctx.foreach(_.setJobGroup(s"$layer|$name", name, interruptOnCancel = false))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ctx.foreach { c =>
          prevGroup match {
            case Some(g) => c.setLocalProperty("spark.jobGroup.id", g)
            case None => c.clearJobGroup()
          }
        }
        current.set((parent, parentTrace))
        spans.add(Span(id, parent, traceId, name, layer, t0, t1, Thread.currentThread.getName))
      }
    }

  /** Open the root span around `main`'s body. The JVM's boot before
    * `main`, from the start time the JVM itself records, is a span of
    * layer `jvm` of its own. */
  def root[T](body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      record("jvm_start", "jvm", Trace.nanosAt(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime), t0)
      current.set((Trace.RootId, Trace.RootId))
      try body
      finally {
        spans.add(Span(Trace.RootId, 0L, Trace.RootId, "run", "harness", t0, System.nanoTime(),
          Thread.currentThread.getName))
        current.set((0L, 0L))
      }
    }

  /** Record an interval measured elsewhere (the JVM's boot, a streaming
    * trigger reported by `StreamingQueryProgress`) as a top-level span. */
  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, 0L, id, name, layer, startNs, endNs, Thread.currentThread.getName))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: a span's duration minus the union of its
    * children's intervals (children on other threads included). */
  def selfTimeByLayer: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s.layer -> (s.endNs - s.startNs - Trace.unionNs(kids)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Seconds during which at least one span of a named layer is open,
    * on any thread. The root and the `harness` spans only group other
    * spans, so time under them alone is not covered: a call the harness
    * makes without a span around it lowers this figure. */
  def coveredSeconds: Double =
    Trace.unionNs(all.filter(_.layer != "harness").map(s => (s.startNs, s.endNs))) / 1e9

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.traceId,
        "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "thread" -> s.thread))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val RootId = 1000000000L

  /** Total length of the union of `intervals`. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    covered
  }

  /** The `System.nanoTime` reading that corresponds to wall-clock `epochMs`. */
  def nanosAt(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L
}

/** Task and planning figures per job group. Spark posts listener
  * events asynchronously; [[drain]] waits for the bus before a figure
  * is read. */
final class TaskMetrics extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var shuffleWrite = 0L; var spill = 0L
    var gcMs = 0L; var peakMem = 0L; var busyNs = 0L
    var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
  }
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup: mutable.Map[String, Acc] = mutable.Map.empty

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrElse(e.stageId, "untraced"))
      a.tasks += 1
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.busyNs += m.executorRunTime * 1000000L
    }
  }

  /** Planning phases of every executed plan, charged to the group the
    * harness names in [[currentGroup]]. Calls run one at a time and the
    * harness drains the bus before switching groups, so the charge is
    * exact. */
  @volatile var currentGroup: String = "untraced"
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val a = acc(currentGroup)
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => a.analysisMs += p.durationMs)
      ph.get("optimization").foreach(p => a.optimizationMs += p.durationMs)
      ph.get("planning").foreach(p => a.planningMs += p.durationMs)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object TaskMetrics {
  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus.waitUntilEmpty` is package-private in Scala only. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }
}
