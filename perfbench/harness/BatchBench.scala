package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import Obs._

/** Runs a fixed query set through `graft.SparkEntry.queries`, with the
  * session configured as `graft.Bench` configures its own, and writes each
  * result to parquet for the oracle check.
  *
  * Set-up is the session, built cold once per JVM, plus one warm-up pass
  * over the small `--warm-data` tables. With `--probe 1` the JVM only builds
  * the session, writes its set-up time and exits. Otherwise one measured
  * pass runs the queries in a seed-shuffled order. Traced runs add a `QueryExecutionListener` (planning phases), a
  * scheduler listener (jobs, tasks, shuffle, spill, GC), Janino compile
  * counts and the `LambdaFunction` count of each query's optimized plan.
  */
object BatchBench {

  case class Phase(name: String, startMs: Long, endMs: Long)

  class PhaseLog extends QueryExecutionListener {
    val phases = new ConcurrentLinkedQueue[Phase]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id * 2)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val t0 = nowUs()
    val heap = new HeapAfterGc
    val trace = a("trace") == "1"
    val spans = new Spans(trace)
    val data = a("data")
    val out = a("out")

    val spark = spans.time("batch.setup")(session(a("cpus")))
    val setupS = (nowUs() - t0) / 1e6
    if (a.get("probe").contains("1")) {
      spark.stop()
      writeFile(a("result"), json(Map("setup_s" -> setupS)))
      return
    }
    val names = new scala.util.Random(a("seed").toLong).shuffle(a("queries").split(",").toSeq)
    // warm-up: the JIT and the codegen cache see every query once, so a
    // query's time no longer depends on where the shuffle put it
    val w0 = nowUs()
    spans.time("batch.warmup") {
      for (name <- names)
        try graft.SparkEntry.queries(name)(spark, a("warm-data")).write.mode("overwrite")
          .parquet(s"$out/_warmup/$name")
        catch { case e: Throwable => System.err.println(s"warm-up $name failed: $e") }
    }
    val warmS = (nowUs() - w0) / 1e6
    heap.mark()
    val phaseLog = new PhaseLog
    val jobs = new JobTaskListener
    if (trace) {
      spark.listenerManager.register(phaseLog)
      spark.sparkContext.addSparkListener(jobs)
    }

    writeFile(s"$out/oracle_sql.json", json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val runs = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val cgCount0 = cg.getCount
      val q0 = nowUs()
      var t1 = q0
      var error = ""
      var analysisMs = 0L
      var lambdas = 0
      spans.time("batch.query", name) {
        try {
          val df = spans.time("batch.construct", name)(fn(spark, data))
          t1 = nowUs()
          spans.time("batch.execute", name)(df.write.mode("overwrite").parquet(s"$out/$name"))
          if (trace) {
            analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
            df.queryExecution.optimizedPlan.foreachWithSubqueries(p =>
              p.expressions.foreach(_.foreach { case _: LambdaFunction => lambdas += 1; case _ => () }))
          }
        } catch {
          case e: Throwable => error = e.toString.linesIterator.take(2).mkString(" | ")
        }
      }
      val t2 = nowUs()
      runs += Map("name" -> name, "start_us" -> q0, "construct_us" -> (t1 - q0),
        "total_us" -> (t2 - q0), "error" -> error, "df_analysis_ms" -> analysisMs,
        "lambda_nodes" -> lambdas, "codegen_compiles" -> (cg.getCount - cgCount0),
        "codegen_mean_ms" -> cg.getSnapshot.getMean)
    }
    heap.mark()

    if (trace) {
      // listener events arrive asynchronously; wait until they stop coming
      var n = -1
      while (n != jobs.tasks.size + phaseLog.phases.size) {
        n = jobs.tasks.size + phaseLog.phases.size
        Thread.sleep(300)
      }
    }
    val extra = Seq.newBuilder[Span]
    phaseLog.phases.asScala.foreach { p =>
      extra += Span(spans.nextId(), s"batch.${p.name}", p.startMs * 1000, p.endMs * 1000, 0L, "")
    }
    jobs.jobs.asScala.foreach { j =>
      extra += Span(spans.nextId(), "batch.job", j.startMs * 1000, j.endMs * 1000, 0L, j.jobId.toString)
    }
    spans.write(a("spans"), extra.result())

    val result = Map(
      "setup_s" -> setupS,
      "warmup_s" -> warmS,
      "heap_peak_mb" -> heap.peakMb,
      "runs" -> runs,
      "phases" -> phaseLog.phases.asScala.map(p => Map("name" -> p.name, "start_ms" -> p.startMs, "end_ms" -> p.endMs)),
      "jobs" -> jobs.jobs.asScala.map(j => Map("start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "tasks" -> jobs.tasks.asScala.map(t => Seq(t.finishMs, t.shuffleBytes, t.spillBytes, t.gcMs)))
    writeFile(a("result"), json(result))
    spark.stop()
  }
}
