package perfbench

import java.io.OutputStream
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Counts and hashes what a conversion prints, in place of stdout. */
final class DigestStream(tee: Option[OutputStream] = None) extends OutputStream {
  private val crc = new java.util.zip.CRC32C
  var bytes = 0L
  var lines = 0L

  override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    crc.update(b, off, len)
    bytes += len
    var i = off
    val end = off + len
    while (i < end) { if (b(i) == '\n') lines += 1; i += 1 }
    tee.foreach(_.write(b, off, len))
  }

  override def close(): Unit = tee.foreach(_.close())

  def digest: String = s"$lines:$bytes:${crc.getValue}"
}

/** Task and job counters from a listener the benchmark registers. Schema
  * inference jobs are told apart by their stage name, the call site of
  * `spark.read.parquet` ("parquet at File.scala:N"); the timed passes write
  * no parquet, so no write job carries that name there. */
final class Counters extends SparkListener {
  val tasks, cpuNs, runMs, shuffleWriteBytes = new AtomicLong
  val jobs, jobsEnded, tasksStarted, inferJobs, inferMs = new AtomicLong
  private val inferStart = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Submission times (epoch ms) of every job. */
  val jobStartMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    tasksStarted.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStartMs.add(e.time)
    if (e.stageInfos.exists(_.name.startsWith("parquet at "))) {
      inferJobs.incrementAndGet()
      inferStart.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    val t0 = inferStart.remove(e.jobId)
    if (t0 != null) inferMs.addAndGet(e.time - t0)
  }

  /** Listener events arrive after the action that caused them returns:
    * wait until every job and task seen so far has ended. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    Thread.sleep(10)
    while ((jobs.get != jobsEnded.get || tasksStarted.get != tasks.get) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** The submission time of the first job submitted in [fromMs, toMs]. */
  def firstJobMs(fromMs: Long, toMs: Long): Option[Long] =
    jobStartMs.asScala.iterator.map(_.longValue).filter(t => t >= fromMs && t <= toMs)
      .reduceOption(_ min _)

  def snapshot: Map[String, Long] = Map(
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get,
    "shuffle_write" -> shuffleWriteBytes.get, "jobs" -> jobs.get,
    "infer_jobs" -> inferJobs.get, "infer_ms" -> inferMs.get)
}

/** JVM-wide counters: JIT time, collector time, bytes allocated by live
  * threads. */
object Jvm {
  private val comp = ManagementFactory.getCompilationMXBean
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def jitMs: Long = comp.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def allocBytes: Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def snapshot: Map[String, Long] =
    Map("jit_ms" -> jitMs, "gc_ms" -> gcMs, "alloc" -> allocBytes)

  /** Live heap after full collections, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(100); i += 1 }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Bytes the calling thread has read through Hadoop's local filesystem.
    * Spark's tasks run on other threads, so around a `Pq2Json.run` call
    * this counts the footer reads the call makes on the caller's thread. */
  def threadBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum
}

/** Spans kept in memory and written when the run ends. Each span also
  * records the listener's job count over its interval. The driver side is
  * single-threaded, so a stack gives each span its parent. */
final class Tracer(counters: Counters) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      var endNs: Long = 0L, var jobs: Long = 0L)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime() - origin)
    spans += s
    stack.push(s)
    val jobs0 = counters.jobs.get
    try body
    finally {
      s.endNs = System.nanoTime() - origin
      s.jobs = counters.jobs.get - jobs0
      stack.pop()
    }
  }

  def durNs(s: Span): Long = s.endNs - s.startNs

  /** Spans named `name` whose start lies in [from, to). */
  def named(name: String, from: Long, to: Long): Seq[Span] =
    spans.iterator.filter(s => s.name == name && s.startNs >= from && s.startNs < to).toSeq

  def now: Long = System.nanoTime() - origin

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
