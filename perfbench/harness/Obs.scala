package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** Measurement helpers shared by the bridge and batch harnesses. Everything
  * here observes the program from outside: wall clocks, JMX, listeners.
  */
object Obs {
  /** Epoch microseconds; the load generator stamps due times on the same clock. */
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  // ---- JSON output --------------------------------------------------------

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Some(x) => json(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }

  // ---- driver heap after GC ------------------------------------------------

  /** Driver heap still in use after a full collection, read from
    * `MemoryPoolMXBean.getCollectionUsage` (summed over heap pools) at
    * points outside the measured phases. Sampling it during the load read
    * G1's old-generation occupancy between marking cycles, which varied
    * by a quarter from run to run on the same code.
    */
  class HeapAfterGc {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    private var peak = 0L
    def mark(): Unit = {
      // collect until the figure stops falling: one collection lets Spark's
      // ContextCleaner release broadcast and shuffle blocks held by weak
      // references, which a later collection frees
      def collected(): Long = { System.gc(); pools.map(_.getCollectionUsage.getUsed).sum }
      var used = collected()
      var falling = true
      var rounds = 1
      while (falling && rounds < 5) {
        Thread.sleep(200)
        val next = collected()
        falling = next < used - (1L << 20)
        used = math.min(used, next)
        rounds += 1
      }
      peak = math.max(peak, used)
    }
    def peakMb: Double = peak / 1048576.0
  }

  // ---- spans ---------------------------------------------------------------

  case class Span(id: Long, name: String, startUs: Long, endUs: Long, parent: Long, key: String)

  /** In-memory span store, written out once when the run ends. Disabled
    * (every call a no-op apart from running the body) in untraced runs.
    */
  class Spans(val enabled: Boolean) {
    private val ids = new AtomicLong(0L)
    private val spans = new ConcurrentLinkedQueue[Span]()
    private val current = new ThreadLocal[java.lang.Long] { override def initialValue(): java.lang.Long = 0L }

    /** Runs `body` inside a span; spans opened by `body` on this thread become its children. */
    def time[T](name: String, key: String = "")(body: => T): T =
      if (!enabled) body else {
        val id = ids.incrementAndGet()
        val parent = current.get
        current.set(id)
        val s = nowUs()
        try body finally {
          spans.add(Span(id, name, s, nowUs(), parent, key))
          current.set(parent)
        }
      }

    def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

    /** Writes the spans plus `extra` as JSON lines; `adopt` gives a parent
      * to a top-level span whose cause was only known after it ended.
      */
    def write(path: String, extra: Seq[Span] = Nil, adopt: Span => Long = _ => 0L): Unit =
      if (enabled) writeFile(path, (all ++ extra).map { s =>
        val parent = if (s.parent != 0L) s.parent else adopt(s)
        json(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "parent" -> parent, "key" -> s.key))
      }.mkString("", "\n", "\n"))

    def nextId(): Long = ids.incrementAndGet()
  }

  // ---- jobs and tasks ------------------------------------------------------

  case class TaskRec(finishMs: Long, key: String, shuffleBytes: Long, spillBytes: Long, gcMs: Long)
  case class JobRec(startMs: Long, endMs: Long, key: String, jobId: Int)

  /** Jobs and tasks as the scheduler reports them. `key` is the micro-batch
    * id a streaming job runs for (its `streaming.sql.batchId` property) or
    * empty; callers attribute the rest by time window.
    */
  class JobTaskListener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
      jobStart.put(e.jobId, (e.time, key))
      e.stageIds.foreach(s => stageKey.put(s, key))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t, k) => jobs.add(JobRec(t, e.time, k, e.jobId)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (sh, sp, gc) =
        if (m == null) (0L, 0L, 0L)
        else (m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
      tasks.add(TaskRec(e.taskInfo.finishTime, stageKey.getOrDefault(e.stageId, ""), sh, sp, gc))
    }
  }

  /** Waits until `cond` holds or `timeoutMs` passes; true when it held. */
  def await(timeoutMs: Long, pollMs: Long = 2)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end) return false
      Thread.sleep(pollMs)
    }
    true
  }
}
