package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop workload: set up, warm every operation type once, then
  * run operations back to back while the window is open. */
trait Workload {
  /** Prepare state the operations need (timed as part of set-up). */
  def setup(): Unit = ()
  /** Run every operation type once, outside the window. */
  def warmup(): Unit
  /** One unit of the closed loop (one operation, or one ingest step of
    * several); records its own samples. Returns false, without running
    * anything, once the run's inputs are used up. */
  def step(): Boolean
  /** True once the window has run every kind of operation at least once. */
  def covered: Boolean
  /** After the window: dump what the output checks need; return the
    * workload's counters. */
  def finish(): Map[String, Any]
}

/** Shared run state handed to a workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val in: String,
                val work: String) {
  val inputs: Map[String, Any] = Json.parse(new String(
    Files.readAllBytes(Paths.get(in, "inputs.json")), "UTF-8")).asInstanceOf[Map[String, Any]]
  val tables = s"$in/tables"
  /** Latency samples per series, milliseconds. */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Closed-loop operations: (name, class, ms, error). */
  val ops = mutable.ArrayBuffer.empty[(String, String, Double, String)]
  var inWindow = false

  def sample(name: String, ms: Double): Unit =
    if (inWindow) series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms

  /** Run `body` as one operation of class `cls`; a throw is recorded as a
    * failed operation, never propagated. */
  def op(name: String, cls: String)(body: => Unit): Unit = {
    val (r, ms) = tracer.op(cls)(body)
    val err = r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse("")
    if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
    if (inWindow) ops += ((name, cls, ms, err))
  }

  def timed[T](series: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    sample(series, (System.nanoTime() - t0) / 1e6)
    r
  }
}

/** Entry point, driven by perfbench/run.py:
  * `perfbench.Main <workload> <inDir> <workDir> <seconds> <trace 0|1>`
  * writes `<workDir>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    new File(work).mkdirs()
    val t0 = System.nanoTime()
    val spark = graft.Engine.session()
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = new Tracer(spark.sparkContext, traced)
    val listener = new SpanListener(tracer)
    val progress = new StreamProgress
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(progress)
    }
    val ctx = new Ctx(spark, tracer, in, work)
    val wl = workloadOf(workload, ctx)
    val setupT = System.nanoTime()
    tracer.span("engine.setup")(wl.setup())
    val setupMs = (System.nanoTime() - setupT) / 1e6
    val warmT = System.nanoTime()
    tracer.span("engine.warmup")(wl.warmup())
    val warmupMs = (System.nanoTime() - warmT) / 1e6

    // the window: closed loop, one client, the next unit starts when the
    // previous one has returned, and only if a unit as long as the last
    // one still ends inside the window (units differ by 100x across
    // workloads) or some kind of op has not run yet; a run whose inputs
    // are used up ends its window early
    val firstOpEpochMs = System.currentTimeMillis()
    val hostStart = HostSnap.now()
    val w0 = System.nanoTime()
    ctx.inWindow = true
    val windowNs = (seconds * 1e9).toLong
    var lastNs = 0L
    var more = true
    while (more && (!wl.covered || System.nanoTime() - w0 + lastNs <= windowNs)) {
      val t = System.nanoTime()
      more = wl.step()
      lastNs = System.nanoTime() - t
    }
    ctx.inWindow = false
    val windowMs = (System.nanoTime() - w0) / 1e6
    val windowEndEpochMs = System.currentTimeMillis()
    val host = HostSnap.now().delta(hostStart)
    val liveHeap = HostSnap.liveHeapMb()

    val counters = wl.finish()
    if (traced) listener.drain()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "warmup_ms" -> warmupMs,
      "window_ms" -> windowMs,
      "host" -> host,
      "live_heap_mb" -> liveHeap,
      "cores" -> spark.sparkContext.defaultParallelism,
      "ops" -> ctx.ops.map { case (n, c, ms, e) =>
        Map("name" -> n, "class" -> c, "ms" -> ms, "error" -> e) }.toSeq,
      "series" -> ctx.series.map { case (k, v) => k -> v.toSeq }.toMap,
      "counters" -> counters)
    if (traced) {
      val spanOut = tracer.spans.map { s =>
        val w = Option(listener.work.get(s.id))
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
            "start_ns" -> (s.startNs - w0), "end_ns" -> (s.endNs - w0),
            "jobs" -> w.fold(0L)(_.jobs), "tasks" -> w.fold(0L)(_.tasks),
            "run_ms" -> w.fold(0L)(_.runMs), "cpu_ms" -> w.fold(0.0)(_.cpuNs / 1e6),
            "shuffle_bytes" -> w.fold(0L)(_.shuffleBytes),
            "spill_bytes" -> w.fold(0L)(_.spillBytes),
            "job_wall_ms" -> w.fold(0L)(_.jobWallMs))
      }
      val st = Option(listener.work.get(listener.StreamingSpan)).getOrElse(new Work)
      out ++= Seq(
        "spans" -> spanOut.toSeq,
        "untagged_jobs" -> listener.untagged.asScala.count(t =>
          t >= firstOpEpochMs && t <= windowEndEpochMs),
        "streaming_work" -> Map("jobs" -> st.jobs, "tasks" -> st.tasks,
          "cpu_ms" -> st.cpuNs / 1e6, "shuffle_bytes" -> st.shuffleBytes),
        "streaming" -> {
          val b = progress.batches.asScala.filter(_._1 >= firstOpEpochMs).toSeq
          Map("batches" -> b.size, "trigger_ms" -> b.map(_._2).sum, "commit_ms" -> b.map(_._3).sum)
        })
    }
    Files.writeString(Paths.get(work, "result.json"), Json.write(out.toMap))
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "interactive_mix" => new Interactive(ctx)
    case "corpus_pipeline" => new Corpus(ctx)
    case "ingest_mixed" => new Ingest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Minimal JSON for the run record (no extra dependencies). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => graft.tools.JsonText.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${write(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => write(other.toString)
  }

  /** Parse with Jackson (on Spark's classpath) into Scala maps/seqs. */
  def parse(s: String): Any = {
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toSeq
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else if (n.isNull) null
      else n.asText()
    conv(new com.fasterxml.jackson.databind.ObjectMapper().readTree(s))
  }
}
