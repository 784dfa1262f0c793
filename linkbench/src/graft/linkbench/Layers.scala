package graft.linkbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job totals of one Spark job group. */
final class GroupStats {
  var jobs = 0
  /** (job id, start ms, end ms), from the scheduler's event times. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  /** Spark stage id -> executor run time of each of its tasks, ms. */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  /** max/median task time of the Spark stage with the most task time. */
  def skew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2)
      if (med <= 0) 1.0 else ts.last.toDouble / med
    }

  /** Milliseconds of [from, to] covered by at least one job. */
  def coveredMs(from: Long, to: Long): Long =
    GroupStats.covered(jobSpans.map { case (_, s, e) => (s, e) }, from, to)
}

object GroupStats {
  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(intervals: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val iv = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/**
 * Aggregates Spark's task metrics per job group. The benchmark sets one
 * job group per layer call, so every job, stage and task of the call
 * lands in that group's [[GroupStats]].
 */
final class LayerListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashMap.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      openJobs(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, t0) =>
      groups(g).jobSpans += ((e.jobId, t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val s = groups(g)
      s.taskMs += m.executorRunTime
      s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  /** Removes and returns a group's totals; call after the bus drained. */
  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }
}

/**
 * Live heap: occupancy right after a GC, read from the JVM's GC
 * notifications. [[peakMb]] is the largest such reading over every
 * collection (young, mixed and full) inside [[during]];
 * [[sampleLive]] forces a full collection at a chosen
 * point. Also the JVM-wide GC time. In `local[n]` the executors share
 * the driver JVM, so all of it covers the whole program.
 */
object Heap {
  @volatile private var majors = 0L
  @volatile private var lastBytes = 0L
  /** (GC end, ms since JVM start; heap bytes after it), every GC. */
  private val readings = mutable.ArrayBuffer.empty[(Long, Long)]
  /** [start, end] of each [[during]] call, ms since JVM start. */
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        Heap.synchronized {
          readings += ((info.getGcInfo.getEndTime, used))
          if (info.getGcAction == "end of major GC") {
            lastBytes = used
            majors += 1
          }
        }
      }
  }

  /** Call once per JVM, before [[sampleLive]]. */
  def install(): Unit = {
    heapPools
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter => em.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Runs `f` with the collections that end meanwhile counted into the
    * peak. Notifications arrive late, so they are matched by GC time. */
  def during[T](f: => T): T = {
    val t0 = uptimeMs
    try f finally Heap.synchronized { windows += ((t0, uptimeMs)) }
  }

  /** The largest post-GC occupancy of a collection inside [[during]],
    * MB. Collections whose notification has not arrived yet are missed:
    * read it after [[sampleLive]], which waits for its own. */
  def peakMb: Double = Heap.synchronized {
    readings.collect {
      case (t, b) if windows.exists { case (s, e) => t >= s && t <= e } => b
    }.maxOption.getOrElse(0L) / 1e6
  }

  /** A full GC now, and the heap it leaves, MB. Spark's context cleaner
    * releases shuffle and broadcast state asynchronously once a GC has
    * freed their handles, so the reading is taken from a second
    * collection after a short pause. */
  def sampleLive(): Double = {
    fullGc()
    Thread.sleep(200)
    fullGc()
    lastBytes / 1e6
  }

  /** The notification arrives on another thread: wait (up to 2 s). */
  private def fullGc(): Unit = {
    val before = majors
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (majors == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}

/** One traced interval. Times are wall-clock ms (to line up with the
  * scheduler's job events) plus ns for the benchmark's own spans. */
final case class Span(id: Int, name: String, parent: Int, rep: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** The layer figures of one traced call. */
final case class Layer(name: String, wallS: Double, jobs: Int, taskS: Double,
                       skew: Double, shuffleMb: Double, spillMb: Double,
                       driverS: Double, gcS: Double)

/** Spans kept in memory for the run and written out once at its end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Int, (String, Int, String, Long, Long)]
  private var nextId = 1

  /** Opens a span; [[end]] closes it. Returns its id, for children. */
  def begin(name: String, parent: Int, rep: String): Int = synchronized {
    val id = nextId
    nextId += 1
    open(id) = (name, parent, rep, System.currentTimeMillis(), System.nanoTime())
    id
  }

  def end(id: Int): Span = synchronized {
    val (name, parent, rep, ms0, ns0) = open.remove(id).get
    val s = Span(id, name, parent, rep, ms0, System.currentTimeMillis(), System.nanoTime() - ns0)
    spans += s
    s
  }

  /** Records a finished span, such as a Spark job's. */
  def add(name: String, parent: Int, rep: String, startMs: Long, endMs: Long): Unit =
    synchronized {
      spans += Span(nextId, name, parent, rep, startMs, endMs, (endMs - startMs) * 1000000L)
      nextId += 1
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** A span's duration minus the part of it its children cover, s. */
  def selfSeconds(span: Span): Double = {
    val kids = all.filter(_.parent == span.id).map(k => (k.startMs, k.endMs))
    math.max(0.0, span.durNs / 1e9 - GroupStats.covered(kids, span.startMs, span.endMs) / 1000.0)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"rep":"${s.rep}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durNs / 1e9},""" +
        s""""self_s":${selfSeconds(s)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Wraps each layer call of a repetition. */
trait Probe {
  def layer[T](name: String)(f: => T): T
}

/** Tracing off: the call runs as is. */
object Untraced extends Probe {
  def layer[T](name: String)(f: => T): T = f
}

/**
 * Tracing on: each call runs in its own job group under a span whose
 * children are the call's Spark jobs; the call's [[Layer]] figures are
 * appended to `layers`.
 */
final class Traced(sc: SparkContext, listener: LayerListener, tracer: Tracer,
                   rep: String, parent: Int) extends Probe {
  val layers = mutable.ArrayBuffer.empty[Layer]

  def layer[T](name: String)(f: => T): T = {
    val group = s"linkbench-$rep-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val gc0 = Heap.gcSeconds
    val id = tracer.begin(name, parent, rep)
    try f
    finally {
      val span = tracer.end(id)
      val gc1 = Heap.gcSeconds
      sc.clearJobGroup()
      org.apache.spark.linkbench.Bus.drain(sc)
      val g = listener.take(group)
      g.jobSpans.foreach { case (job, s, e) => tracer.add(s"job$job", id, rep, s, e) }
      val wall = span.durNs / 1e9
      layers += Layer(name, wall, g.jobs, g.taskMs / 1000.0, g.skew,
        g.shuffleWriteBytes / 1e6, g.spillBytes / 1e6,
        math.max(0.0, wall - g.coveredMs(span.startMs, span.endMs) / 1000.0), gc1 - gc0)
    }
  }
}
