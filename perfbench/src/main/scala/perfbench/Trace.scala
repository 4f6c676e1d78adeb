package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `name` is `<layer>.<what>`; a span whose
  * layer is `op` marks one closed-loop operation of the workload. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, var endNs: Long = 0L, var startMs: Long = 0L,
                      var endMs: Long = 0L)

/** Spans around calls into the engine's public functions, kept in memory
  * and written once the run ends. With tracing on, every span also tags
  * the Spark jobs submitted from this (the client) thread, so the
  * listener can attribute jobs to the innermost open span. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var request = 0L

  def span[T](name: String)(body: => T): T = {
    val s = Span(nextId, stack.headOption.fold(0L)(_.id), name, request, System.nanoTime())
    s.startMs = System.currentTimeMillis()
    nextId += 1
    stack = s :: stack
    synchronized { spans += s }
    val tag = Tracer.tagOf(s.id)
    if (traced) sc.addJobTag(tag)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) sc.removeJobTag(tag)
    }
  }

  /** Time `body` as one operation; returns (result or error, millis). */
  def op[T](name: String)(body: => T): (Either[Throwable, T], Double) = {
    val t0 = System.nanoTime()
    val r = try Right(span(s"op.$name")(body)) catch { case e: Exception => Left(e) }
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"
  def tagOf(id: Long): String = s"$TagPrefix$id"
}

/** Per-span Spark work: jobs, tasks, task run and CPU time, shuffle and
  * spill bytes, plus job wall (for idle-core accounting). */
final class Work {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var jobWallMs = 0L
}

/** The benchmark's own listener. A job is attributed to the innermost
  * span whose tag it carries, provided that span was open when the job
  * was submitted; streaming micro-batch jobs are attributed to the
  * streaming layer by their query id. Anything else is counted as
  * untagged, never guessed. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val work = new ConcurrentHashMap[Long, Work]()
  @volatile var started = 0L
  @volatile var ended = 0L
  /** Submission times of jobs no span could claim. */
  val untagged = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  /** Pseudo span id for streaming micro-batch jobs. */
  val StreamingSpan = -1L

  private def w(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  private def spanOf(e: SparkListenerJobStart): Option[Long] = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
      .filter(_.startsWith(Tracer.TagPrefix)).map(_.stripPrefix(Tracer.TagPrefix).toLong)
    val live = tracer.synchronized(tags.flatMap(id => tracer.spans.lift((id - 1).toInt)))
      .filter(s => s.endMs == 0L || e.time <= s.endMs + 1)
    if (live.nonEmpty) Some(live.maxBy(_.id).id)
    else if (props.exists(p => p.getProperty("sql.streaming.queryId") != null)) Some(StreamingSpan)
    else None
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    spanOf(e) match {
      case Some(id) =>
        jobSpan.put(e.jobId, id); jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        w(id).jobs += 1
      case None => untagged.add(e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    Option(jobSpan.remove(e.jobId)).foreach { id =>
      val t0 = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      w(id).jobWallMs += e.time - t0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val m = Option(e.taskMetrics)
      val x = w(id)
      x.tasks += 1
      m.foreach { tm =>
        x.runMs += tm.executorRunTime
        x.cpuNs += tm.executorCpuTime
        x.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten +
          tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead
        x.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }
  }

  /** The listener bus is asynchronous: wait until every started job has
    * been seen to end (bounded), so the totals are complete. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < until && (ended < started)) Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Streaming progress of non-empty micro-batches: (arrival epoch ms,
  * trigger ms, commit ms), where commit is the sink write plus the offset
  * and commit logs. */
final class StreamProgress extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0)
      batches.add((System.currentTimeMillis(), get("triggerExecution"),
        get("addBatch") + get("walCommit") + get("commitOffsets")))
  }
}

/** Host-quiet record: process CPU, hypervisor steal, JVM-level GC, wall. */
final case class HostSnap(wallMs: Long, cpuNs: Long, stealJiffies: Long, gcMs: Long) {
  def delta(start: HostSnap): Map[String, Double] = {
    val wall = (wallMs - start.wallMs).toDouble
    val cpu = (cpuNs - start.cpuNs) / 1e6
    Map("wall_ms" -> wall, "proc_cpu_ms" -> cpu,
        // USER_HZ is 100 on Linux: one jiffy is 10 ms
        "steal_ms" -> (stealJiffies - start.stealJiffies) * 10.0,
        "jvm_gc_ms" -> (gcMs - start.gcMs).toDouble,
        "cpu_per_wall" -> (if (wall > 0) cpu / wall else 0.0),
        "start_epoch_ms" -> start.wallMs.toDouble)
  }
}

object HostSnap {
  def now(): HostSnap = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    HostSnap(System.currentTimeMillis(), os.getProcessCpuTime, steal(), gc)
  }

  /** Steal jiffies summed over the aggregate `cpu` line of /proc/stat
    * (field 8); 0 where the file is unavailable. */
  def steal(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    finally src.close()
  } catch { case _: java.io.IOException => 0L }

  /** Heap in use right after the latest collection, summed over heap
    * pools. Two forced full collections with a pause between them: Spark's
    * context cleaner releases broadcast and shuffle state only after the
    * first one has collected their handles. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}
