package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval. Times are nanoseconds since the tracer was made;
  * `parent` is 0 for a root span. All spans of a run share the run id.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def us: Double = (endNs - startNs) / 1e3
}

/** In-memory span recorder, written out once when the run ends. A
  * disabled tracer runs the body and records nothing, so the untraced run
  * pays one branch per call site.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def now: Long = System.nanoTime() - originNs

  /** Time `f` as a span; `f` receives the span's id to parent its children. */
  def spanId[A](name: String, parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = now
      try f(id) finally spans.add(Span(id, parent, name, t0, now))
    }

  def span[A](name: String, parent: Long = 0L)(f: => A): A = spanId(name, parent)(_ => f)

  /** Record a span measured elsewhere, e.g. a micro-batch from its progress
    * report (`startEpochMs` is wall-clock time).
    */
  def synth(name: String, startEpochMs: Long, durMs: Double, parent: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      val s = (startEpochMs - originEpochMs) * 1000000L
      spans.add(Span(id, parent, name, s, s + (durMs * 1e6).toLong))
      id
    }

  def all: Seq[Span] = spans.toArray(new Array[Span](0)).toSeq

  /** Durations in microseconds of every span with this name. */
  def us(name: String): Seq[Double] = all.filter(_.name == name).map(_.us)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark work counted per key: the streaming micro-batch id when the job
  * belongs to one, otherwise its job group. Registered as a SparkListener, so it
  * sees the engine's jobs from outside.
  */
final class JobStats extends SparkListener {
  final class Agg {
    val jobs = new AtomicLong(); val tasks = new AtomicLong()
    val shuffleWriteB = new AtomicLong(); val shuffleReadB = new AtomicLong()
    val spillB = new AtomicLong(); val cpuNs = new AtomicLong()
    val gcMs = new AtomicLong(); val inputB = new AtomicLong()
  }
  private val byKey = new ConcurrentHashMap[String, Agg]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def agg(k: String): Agg = byKey.computeIfAbsent(k, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(p => Option(p.getProperty(k)))
    val key = prop("streaming.sql.batchId").map("batch:" + _)
      .orElse(prop("spark.jobGroup.id")).getOrElse("none")
    agg(key).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageKey.getOrDefault(e.stageId, "none"))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.inputB.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def get(key: String): Option[Agg] = Option(byKey.get(key))
}

/** The few JSON helpers the result lines need. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite double with all its digits (Java's shortest round-trip form). */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not finite")
    java.lang.Double.toString(v).replace("E", "e")
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
