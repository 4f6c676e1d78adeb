package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.Folio
import graft.llm.Dedup

/** ingest_mixed: writes beside reads against stores that set-up has
  * pre-loaded (the folio with a few batches). The closed loop runs whole
  * steps, so a window holds the same operations whatever their speed;
  * step i is a sequence of operations, one call each: append events batch i to a partitioned folio, append it to
  * a rollup folio, append documents batch i to a persisted LSH index;
  * every k-th step (the first one included) compact the folio and publish
  * an upsert correction; then fresh reads (promoted aggregate, rollup,
  * time travel to the oldest version), a probe of documents batch i+1
  * against the index, and one micro-batch through the chunk feed into a
  * streaming rollup. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val in = s"${ctx.in}/ingest"
  private val plan = ctx.inputs("ingest").asInstanceOf[Map[String, Any]]
  private def batches(key: String) = plan(key).asInstanceOf[Seq[Long]].map(_.toInt)
  private val warmBatch = plan("warmup").asInstanceOf[Long].toInt
  private val preload = batches("preload")
  private val steps = batches("steps")
  private val root = s"${ctx.work}/ingest"
  private val stores = Seq("folio", "rollup", "lsh", "stream_rollup").map(s => s"$root/$s")
  private val Seq(folio, rollup, lsh, streamRollup) = stores
  private val feed = s"$root/feed"
  private var stream: StreamingQuery = _
  private var nextStep = 0

  /** Batches in each store, in commit order, pre-loaded ones included. */
  private val appended, rolled, upserts, fed = mutable.ArrayBuffer.empty[Int]
  private val probes = mutable.ArrayBuffer.empty[(Int, Seq[(Long, Long)])]
  private var userRows = 0L
  private var userBytes = 0L
  private var preloadBytes = 0L
  private var writeWallMs = 0.0
  private var compactBytesRewritten = 0L
  /** Every data file ever seen under a store, with its size; the files
    * the pre-load left do not count as written by the window. */
  private val seen = mutable.HashMap.empty[String, Long]
  private val preloaded = mutable.HashSet.empty[String]

  private def f(kind: String, i: Int, ext: String = "parquet") = f"$in/${kind}_$i%04d.$ext"
  private def events(i: Int): DataFrame = graft.Tables.normalizeEvents(spark.read.parquet(f("events", i)))
  private def docs(i: Int): DataFrame = spark.read.parquet(f("docs", i))
  private def size(p: String): Long = new File(p).length()
  private def hasUpsert(i: Int) = new File(f("upsert", i)).isFile

  private def files(dir: String): Seq[(String, Long)] = {
    def walk(x: File): Seq[(String, Long)] =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(x.getPath -> x.length())
    walk(new File(dir))
  }

  private def scanCreated(): Unit =
    stores.flatMap(files).foreach { case (p, n) => if (!seen.contains(p)) seen(p) = n }

  // the engine calls; each one below a commit is timed as one commit
  private def commitSpan(name: String)(body: => Unit): Unit =
    ctx.timed("commit")(tracer.span(name)(body))
  private def append(i: Int, folioPath: String): Unit =
    commitSpan("io.append")(Folio.appendPartition(events(i), folioPath, Seq("event_type"), Seq("ts_ns")))
  private def rollupAppend(i: Int, rollupPath: String): Unit = commitSpan("io.rollup_append")(
    Folio.appendWithRollup(events(i), rollupPath, Seq("event_type"), Seq("value")))
  private def indexAppend(i: Int, lshPath: String): Unit =
    commitSpan("llm.index_append")(Dedup.indexAppend(docs(i), "doc_id", "text", lshPath))
  private def compact(folioPath: String): Unit =
    commitSpan("io.compact")(Folio.compact(spark, folioPath, Seq("event_type"), Seq("ts_ns")))
  private def upsert(i: Int, folioPath: String): Unit = commitSpan("io.upsert")(Folio.upsertPublish(
    graft.Tables.normalizeEvents(spark.read.parquet(f("upsert", i))), folioPath, Seq("event_id")))

  private def read(df: => DataFrame): Unit = ctx.timed("fresh_read") {
    val d = tracer.span("io.read_resolve") { val d = df; d.queryExecution.executedPlan; d }
    tracer.span("io.read_exec")(d.collect())
  }
  private def readPromoted(folioPath: String): Unit =
    read(Folio.promotedRead(spark, folioPath).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total")))
  private def readRollup(rollupPath: String): Unit = read(Folio.rollupRead(spark, rollupPath))
  private def readOldest(folioPath: String): Unit =
    read(Folio.readVersion(spark, folioPath, Folio.versions(folioPath).head).agg(count(lit(1))))

  private def probe(next: Int, lshPath: String): Seq[(Long, Long)] =
    ctx.timed("probe") {
      tracer.span("llm.index_probe")(Dedup.indexProbe(docs(next), "doc_id", "text", lshPath)
        .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }

  /** Feed one micro-batch: the chunk appears atomically (rename), then the
    * client waits until the stream has processed it. */
  private def feedStream(i: Int): Unit = {
    val tmp = Paths.get(feed, "p0", f".tmp-$i%06d")
    Files.copy(Paths.get(f("stream", i, "txt")), tmp)
    Files.move(tmp, Paths.get(feed, "p0", f"chunk-$i%06d"), StandardCopyOption.ATOMIC_MOVE)
    tracer.span("streaming.process")(stream.processAllAvailable())
    fed += i
  }

  override def setup(): Unit = {
    new File(s"$feed/p0").mkdirs()
    val raw = spark.readStream.format("graft.sources.ChunkFeedSource")
      .option("path", feed).load()
    val parsed = raw.select(split(col("line"), ",").as("f"))
      .select(col("f").getItem(1).as("event_type"), col("f").getItem(2).cast("double").as("value"))
    stream = tracer.span("streaming.start") {
      graft.streaming.EventStream.rollupStream(parsed, streamRollup, Seq("event_type"),
        Seq("value"), Some(s"$root/checkpoint"))
    }
    // a folio that already holds every pre-load commit, so the first
    // compaction merges several; the rollup and index get the first batch
    for (i <- preload) {
      append(i, folio); appended += i
      preloadBytes += size(f("events", i))
    }
    val first = preload.head
    rollupAppend(first, rollup); rolled += first
    indexAppend(first, lsh)
    preloadBytes += size(f("events", first)) + size(f("docs", first))
    scanCreated()
    preloaded ++= seen.keys
  }

  /** Every operation type the pre-load has not run yet: compaction,
    * upsert and time travel on a throwaway folio (the real one has no
    * published version before its first compaction), the other reads and
    * a probe on the real stores (they only read), and one micro-batch
    * into the stream. */
  override def warmup(): Unit = {
    val w = s"${ctx.work}/ingest_warmup/folio"
    val i = warmBatch
    append(i, w); append(preload.head, w)
    compact(w)
    upsert(i, w)
    readPromoted(folio); readRollup(rollup); readOldest(w)
    probe(i, lsh)
    feedStream(i)
  }

  /** One operation of kind `kind`; a write adds its wall to the write path
    * and its user rows and bytes once it has returned. */
  private def op(kind: String, write: Boolean = true, rows: => Long = 0L, bytes: => Long = 0L)
                (body: => Unit): () => Unit = () => {
    val t0 = System.nanoTime()
    ctx.op(kind, "ingest") {
      body
      userRows += rows
      userBytes += bytes
    }
    if (write) writeWallMs += (System.nanoTime() - t0) / 1e6
    scanCreated()
  }

  private def stepOps(i: Int): Seq[() => Unit] = {
    val ev = f("events", i)
    val writes = Seq(
      op("append", rows = rowsOf(ev), bytes = size(ev)) { append(i, folio); appended += i },
      op("rollup_append", bytes = size(ev)) { rollupAppend(i, rollup); rolled += i },
      op("index_append", rows = rowsOf(f("docs", i)), bytes = size(f("docs", i))) {
        indexAppend(i, lsh) })
    val maintenance = if (!hasUpsert(i)) Nil else Seq(
      op("compact") {
        compactBytesRewritten += files(folio).map(_._2).sum
        compact(folio)
      },
      op("upsert", rows = rowsOf(f("upsert", i)), bytes = size(f("upsert", i))) {
        upsert(i, folio); upserts += i })
    val reads = Seq(
      op("read_promoted", write = false)(readPromoted(folio)),
      op("read_rollup", write = false)(readRollup(rollup)),
      op("read_oldest", write = false)(readOldest(folio)),
      op("probe", write = false) { probes += ((i, probe(i + 1, lsh))) },
      op("stream", write = false, bytes = size(f("stream", i, "txt")))(feedStream(i)))
    writes ++ maintenance ++ reads
  }

  override def covered: Boolean = nextStep > 0

  override def step(): Boolean = nextStep < steps.size && {
    stepOps(steps(nextStep)).foreach(_())
    nextStep += 1
    true
  }

  private val rowCounts = mutable.HashMap.empty[String, Long]
  private def rowsOf(p: String): Long = rowCounts.getOrElseUpdate(p, {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  })

  override def finish(): Map[String, Any] = {
    scanCreated()
    stream.stop()
    val live = stores.flatMap(files).map(_._2).sum
    val written = seen.filter { case (p, _) => !preloaded.contains(p) }
    val check = s"${ctx.work}/ingest_check"
    Folio.promotedRead(spark, folio).coalesce(1).write.mode("overwrite").parquet(s"$check/folio")
    Folio.rollupRead(spark, rollup).coalesce(1).write.mode("overwrite").parquet(s"$check/rollup")
    Folio.rollupRead(spark, streamRollup).coalesce(1).write.mode("overwrite")
      .parquet(s"$check/stream_rollup")
    Map("check_dir" -> check, "input_dir" -> in,
        "appended" -> appended.toSeq, "rolled" -> rolled.toSeq,
        "upserts" -> upserts.toSeq, "fed" -> fed.toSeq,
        "probes" -> probes.map { case (i, hits) =>
          Map("step" -> i, "hits" -> hits.map { case (a, b) => Seq(a, b) }) }.toSeq,
        "user_rows" -> userRows, "user_bytes" -> userBytes, "preload_bytes" -> preloadBytes,
        "write_wall_ms" -> writeWallMs,
        "bytes_written" -> written.values.sum, "files_written" -> written.size,
        "live_bytes" -> live, "files_live" -> Folio.dataFileCount(folio),
        "compact_bytes_rewritten" -> compactBytesRewritten)
  }
}
