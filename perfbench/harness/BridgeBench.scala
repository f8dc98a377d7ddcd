package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.jsonata.JsonataCompiler
import graft.streaming._
import Obs._

/** Drives the shipped bridge, wired as `graft.GraftApp.main` wires it:
  * `readStream.format("mqtt")` → `GraftPipeline.plan` → `observe("graft_stats")`
  * → `RoutingSink(FsStreamRegistry, FsStreamPublisher)`, with `StatsListener`,
  * the default trigger and the default source options.
  *
  * Each JVM sets the bridge up once, cold: session, plan, query start, up to
  * the first trigger. With `--probe 1` it then writes its set-up figures and
  * exits; otherwise the query takes the generator's load until
  * `StatsListener` has counted every message the generator reports as
  * written.
  *
  * Untraced runs record only the return time of each `StreamPublisher.publish`.
  * Traced runs also wrap the registry, the publisher and `processBatch`
  * in spans, keep every `StreamingQueryProgress` and scheduler job, and time
  * one JSONata compile before the plan, under a key the compile cache has
  * not seen, so the compile is cold as the plan's own would be.
  */
object BridgeBench {

  /** Registry decorator: counts and times `ensure` calls. */
  class TimedRegistry(inner: StreamRegistry, spans: Spans) extends StreamRegistry {
    val calls = new AtomicLong(0L)
    val micros = new AtomicLong(0L)
    override def ensure(streamId: String, publicRead: Boolean): Unit = {
      val s = nowUs()
      spans.time("sink.ensure", streamId)(inner.ensure(streamId, publicRead))
      micros.addAndGet(nowUs() - s)
      calls.incrementAndGet()
    }
  }

  /** Publisher decorator: the publish-return time of each batch id is what
    * latency and throughput are measured against.
    */
  class StampedPublisher(inner: StreamPublisher, spans: Spans) extends StreamPublisher {
    val returned = new ConcurrentHashMap[Long, Long]()
    val micros = new ConcurrentHashMap[Long, Long]()
    override def publish(routed: DataFrame, batchId: Long): Unit = {
      val s = nowUs()
      spans.time("sink.publish", batchId.toString)(inner.publish(routed, batchId))
      val e = nowUs()
      returned.putIfAbsent(batchId, e)
      micros.putIfAbsent(batchId, e - s)
    }
  }

  class ProgressLog extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val t0 = nowUs()
    val heap = new HeapAfterGc
    val trace = a("trace") == "1"
    val spans = new Spans(trace)
    val cpus = a("cpus")
    val dir = a("dir")
    val schema = a.get("schema").map(StructType.fromDDL).getOrElse(StructType(Nil))
    val cfg = GraftConfig(
      mqttUrl = s"tcp://127.0.0.1:${a("port")}",
      topics = Seq(a("filter")),
      fixedStreamId = a.get("stream-id"),
      transform = a.get("transform"),
      payloadSchema = schema)

    val spark = SparkSession.builder()
      .appName("graft-mqtt-bridge")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stream = spark.readStream.format("mqtt")
      .option("url", cfg.mqttUrl)
      .option("topics", cfg.topics.mkString(","))
      .option("dataTimeoutSecs", cfg.dataTimeoutSecs)
      .load()

    val compileMs = if (!trace) None else cfg.transform.map { expr =>
      val c0 = nowUs()
      // `p AS p` is not the plan's `p`, so this misses the compile cache
      spans.time("jsonata.compile")(JsonataCompiler.compile(expr, col("p").as("p"), schema))
      (nowUs() - c0) / 1000.0
    }
    val p0 = nowUs()
    val planned = spans.time("pipeline.plan")(GraftPipeline.plan(stream, cfg))
    val planMs = (nowUs() - p0) / 1000.0
    val routed = planned.observe("graft_stats",
      sum(when(col("valid"), 1L).otherwise(0L)).as("success"),
      sum(when(!col("valid"), 1L).otherwise(0L)).as("error"))

    val inner = new FsStreamRegistry(s"$dir/out/_streams")
    val registry = new TimedRegistry(inner, spans)
    val publisher = new StampedPublisher(new FsStreamPublisher(s"$dir/out"), spans)
    val sink = new RoutingSink(if (trace) registry else inner, publisher, cfg)
    val stats = new StatsListener((_, _) => ())
    spark.streams.addListener(stats)
    val progress = new ProgressLog
    val jobs = new JobTaskListener
    val processUs = new ConcurrentHashMap[Long, Long]()
    val ensureUs = new ConcurrentHashMap[Long, Long]()
    val writer =
      if (!trace) sink.attach(routed.writeStream)
      else {
        spark.streams.addListener(progress)
        spark.sparkContext.addSparkListener(jobs)
        routed.writeStream.foreachBatch { (df: Dataset[Row], id: Long) =>
          val s = nowUs()
          val e0 = registry.micros.get
          spans.time("sink.processBatch", id.toString)(sink.processBatch(df, id))
          processUs.putIfAbsent(id, nowUs() - s)
          ensureUs.putIfAbsent(id, registry.micros.get - e0)
          ()
        }
      }
    val query = writer.option("checkpointLocation", s"$dir/checkpoint").start()
    val first = await(60000) {
      query.lastProgress != null || query.status.message == "Waiting for data to arrive"
    }
    require(first, s"no trigger within 60 s (${query.status.message})")
    val setupS = (nowUs() - t0) / 1e6
    val setup = Map("setup_s" -> setupS, "plan_ms" -> planMs, "compile_ms" -> compileMs)
    if (a.get("probe").contains("1")) {
      query.stop()
      spark.stop()
      writeFile(a("result"), json(setup))
      return
    }

    heap.mark()
    // the load: wait for the generator's last frame, then for the sink to count it
    val done = new java.io.File(a("done"))
    val loadOk = await(a("load-timeout-s").toLong * 1000, 20)(done.exists())
    val (valid, malformed) =
      if (!loadOk) (-1L, -1L) else {
        val m = """"valid":\s*(\d+),\s*"malformed":\s*(\d+)""".r
          .findFirstMatchIn(java.nio.file.Files.readString(done.toPath)).get
        (m.group(1).toLong, m.group(2).toLong)
      }
    val drained = loadOk && await(a("drain-timeout-s").toLong * 1000, 5) {
      val (s, e) = stats.counts
      s >= valid && e >= malformed
    }
    heap.mark()
    query.stop()
    val (success, error) = stats.counts

    val extra = Seq.newBuilder[Span]
    val addBatchSpan = collection.mutable.Map.empty[String, Long]
    val batches = if (!trace) Nil else progress.progress.toArray(Array.empty[StreamingQueryProgress]).toSeq
      .filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs
        def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        val key = p.batchId.toString
        // one span per trigger; its phases laid out in the order the engine runs them
        val tid = spans.nextId()
        extra += Span(tid, "engine.trigger", startUs, startUs + dur("triggerExecution") * 1000, 0L, key)
        var at = startUs
        for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
          val id = spans.nextId()
          if (k == "addBatch") addBatchSpan(key) = id
          extra += Span(id, s"engine.$k", at, at + dur(k) * 1000, tid, key)
          at += dur(k) * 1000
        }
        val bJobs = jobs.jobs.toArray(Array.empty[JobRec]).filter(_.key == key)
        val bTasks = jobs.tasks.toArray(Array.empty[TaskRec]).count(_.key == key)
        Map(
          "batch" -> p.batchId,
          "start_us" -> startUs,
          "rows" -> p.numInputRows,
          "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse("0"),
          "trigger_ms" -> dur("triggerExecution"),
          "latest_offset_ms" -> dur("latestOffset"),
          "wal_commit_ms" -> dur("walCommit"),
          "get_batch_ms" -> dur("getBatch"),
          "query_planning_ms" -> dur("queryPlanning"),
          "add_batch_ms" -> dur("addBatch"),
          "commit_offsets_ms" -> dur("commitOffsets"),
          "process_us" -> processUs.getOrDefault(p.batchId, 0L),
          "publish_us" -> publisher.micros.getOrDefault(p.batchId, 0L),
          "ensure_us" -> ensureUs.getOrDefault(p.batchId, 0L),
          "jobs" -> bJobs.length,
          "tasks" -> bTasks)
      }
    // foreachBatch runs inside the engine's addBatch phase of the same batch
    spans.write(a("spans"), extra.result(),
      s => if (s.name == "sink.processBatch") addBatchSpan.getOrElse(s.key, 0L) else 0L)

    val returned = publisher.returned
    val result = setup ++ Map(
      "load_ok" -> loadOk,
      "drained" -> drained,
      "success" -> success,
      "error" -> error,
      "heap_peak_mb" -> heap.peakMb,
      "publish_returned_us" -> returned.asScala.map { case (k, v) => k.toString -> v },
      "ensure_calls" -> registry.calls.get,
      "ensure_ms" -> registry.micros.get / 1000.0,
      "batches" -> batches)
    writeFile(a("result"), json(result))
    spark.stop()
  }
}
