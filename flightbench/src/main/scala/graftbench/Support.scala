package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer: maps keep insertion order, doubles keep all digits. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}

/** Percentiles by the nearest-rank rule over (value, weight) samples. */
object Stats {
  /** The highest percentile that still has at least ten samples beyond it,
    * capped at p99. */
  def tailQ(n: Long): Double = math.max(0.5, math.min(0.99, 1.0 - 10.0 / n))

  def quantile(samples: Seq[(Double, Long)], q: Double): Double = {
    val sorted = samples.filter(_._2 > 0).sortBy(_._1)
    val total = sorted.map(_._2).sum
    if (total == 0) return 0.0
    val rank = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    sorted.find { case (_, w) => acc += w; acc >= rank }.map(_._1).getOrElse(sorted.last._1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Process CPU and heap-in-use-after-GC, read through the JVM's public
  * management beans (driver and executors share this process). */
final class ResourceMeter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakAfterGc = 0L
  @volatile private var watching = false

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (watching && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakAfterGc) peakAfterGc = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def cpuNanos: Long = os.getProcessCpuTime

  def loadAvg: Double = os.getSystemLoadAverage

  /** Start tracking the highest heap in use after any collection. */
  def watchHeap(): Unit = { peakAfterGc = 0L; watching = true }

  /** Stop tracking; a final full collection makes sure at least one
    * after-GC reading exists. Returns megabytes. */
  def peakHeapMb(): Double = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    watching = false
    math.max(peakAfterGc, heap) / (1024.0 * 1024.0)
  }
}

/** Spans recorded at each call the benchmark makes into a library layer.
  * Disabled tracing still runs the body but records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 1
  private val epochNs: Long = System.nanoTime()
  private val epochMs: Long = System.currentTimeMillis()

  def span[A](layer: String, name: String, group: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, layer, name, group, parent, t0, t1) }
      }
    }

  /** Record a span whose bounds were measured elsewhere (wall-clock ms),
    * e.g. the phases of a streaming progress report. Returns its id. */
  def record(layer: String, name: String, group: String, parent: Int,
      startMs: Long, endMs: Long): Int =
    if (!enabled) 0
    else synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, layer, name, group, parent,
        epochNs + (startMs - epochMs) * 1000000L, epochNs + (endMs - epochMs) * 1000000L)
      id
    }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfMsByLayer: Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }.toMap
  }

  def write(path: String): Unit = synchronized {
    val rows = spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name, "group" -> s.group,
        "parent" -> s.parent, "start_ms" -> (s.startNs - epochNs) / 1e6,
        "end_ms" -> (s.endNs - epochNs) / 1e6)
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json(Map(
      "spans" -> rows, "self_ms" -> selfMsByLayer)).getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, layer: String, name: String, group: String,
      parent: Int, startNs: Long, endNs: Long)
}

/** Task-level totals per attribution key, from Spark's public listener
  * events. A job is attributed to its job group (catalog rows) or to the
  * streaming query that launched it (`sql.streaming.queryId`). */
final class TaskListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def asMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "exec_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble, "spill_bytes" -> spill.toDouble)
  }

  private val byKey = new ConcurrentHashMap[String, Totals]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()

  private def totals(k: String): Totals = byKey.computeIfAbsent(k, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).map("stream:" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    val t = totals(key)
    t.synchronized { t.jobs += 1; t.stages += e.stageIds.size }
    e.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = totals(Option(stageKey.get(e.stageId)).getOrElse("other"))
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def get(key: String): Map[String, Double] =
    Option(byKey.get(key)).map(t => t.synchronized(t.asMap)).getOrElse(new Totals().asMap)

  /** Wait (bounded) until every job in `ids` has been reported ended, so a
    * key's totals are complete before they are read. */
  def awaitJobs(ids: Seq[Int], timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ids.forall(endedJobs.contains) && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
  }
}
