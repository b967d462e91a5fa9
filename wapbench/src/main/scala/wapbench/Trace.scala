package wapbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory spans around calls into the program's layers. Spans are kept
  * only for the client thread (the closed loop's one caller) and written
  * out when the run ends. A disabled tracer runs the body and nothing else,
  * so the untraced run pays no tracing cost. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
      parent: Int, op: Int)

  private val owner = Thread.currentThread()
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  /** The op the client is running; -1 during set-up and checks. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled || (Thread.currentThread() ne owner)) body
    else {
      val s = Span(spans.size, name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), op)
      spans += s
      open = s.id :: open
      try body
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  /** A span whose bounds the client observed from the calls around it
    * (used for a call made inside the program, between two traced calls). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && (Thread.currentThread() eq owner))
      spans += Span(spans.size, name, startNs, endNs, open.headOption.getOrElse(-1), op)

  /** Per op, the seconds spent in `name`, counting a span nested in a span
    * of the same name once; only ops that called `name` appear. */
  def secondsPerOp(name: String): Seq[Double] = {
    def nestedInSame(s: Span): Boolean = {
      var p = s.parent
      while (p >= 0) { if (spans(p).name == name) return true; p = spans(p).parent }
      false
    }
    spans.filter(s => s.name == name && s.op >= 0 && !nestedInSame(s))
      .groupBy(_.op).values.map(_.map(s => (s.endNs - s.startNs) / 1e9).sum).toSeq
  }

  def calls(name: String): Int = spans.count(s => s.name == name && s.op >= 0)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Job and task counts from Spark's public listener bus. Events carry their
  * own wall-clock times, so they are attributed to ops by time after the
  * bus has drained, whatever its delivery lag. */
final class SparkCounters extends SparkListener {
  final case class Job(startMs: Long, endMs: Long)
  final case class Task(launchMs: Long, runMs: Long, shuffleBytes: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobsDone = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val tasksDone = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  @volatile private var markerSeen = false
  private val MarkerGroup = "wapbench-drain-marker"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).forall(_.getProperty("spark.jobGroup.id") != MarkerGroup))
      jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobsDone.add(Job(s, e.time)) else markerSeen = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskMetrics != null)
      tasksDone.add(Task(e.taskInfo.launchTime, e.taskMetrics.executorRunTime,
        e.taskMetrics.shuffleWriteMetrics.bytesWritten))

  /** Runs a marker job and waits until its end event arrives: the bus
    * delivers in order, so every earlier event has been seen by then. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "drain marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerSeen, "Spark listener bus did not drain within 30 s")
  }

  def jobs: Seq[Job] = jobsDone.toArray(new Array[Job](0)).toSeq
  def tasks: Seq[Task] = tasksDone.toArray(new Array[Task](0)).toSeq
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private lazy val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private lazy val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU nanoseconds each live Java thread has used so far. GC and JIT
    * compiler threads are not Java threads and do not appear. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap
  }

  /** CPU seconds the Java threads used since `before`. A thread started
    * since then counts from 0; one that ended in between is lost. */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** CPU seconds the whole process has used, GC and JIT threads included,
    * in the OS's clock ticks (10 ms). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Heap in use after forced full collections. */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The unit the op-cost metrics are given in: the CPU time the client
  * thread spends on a fixed piece of JVM work, sampled after every op. CPU
  * time leaves out the time the host takes a vCPU away, but it still
  * moves by 10-20% from run to run on a shared host with the clock rate,
  * a busy sibling hyperthread and cache pressure from other tenants; the
  * same drift moves this work, which calls none of the program's code.
  * It mixes what Spark's planning thread and its tasks do: a primitive
  * sort, a pass over 8 MB of memory and boxed hash-map inserts. */
object Calibration {
  /** Samples run before the session starts, so the work is compiled. */
  val WarmSamples = 40
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L
  private val keys = Array.tabulate(100000)(j => (j * 2654435761L) % 1000003L)
  private val stream = new Array[Long](1 << 20)

  /** CPU seconds of one sample, about 12 ms on a 4-vCPU VM. */
  def sampleCpuS(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    val a = keys.clone()
    java.util.Arrays.sort(a)
    var s = 0L
    var i = 0
    while (i < stream.length) { s += stream(i); stream(i) = s; i += 1 }
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < 20000) { m.put(java.lang.Long.valueOf(a(i)), java.lang.Long.valueOf(i.toLong)); i += 1 }
    sink += a(500) + s + m.size
    (threads.getCurrentThreadCpuTime - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}
