package perfbench

import scala.collection.mutable

final case class Metric(value: Double, unit: String)

/** Everything one run measured and checked. Metrics the workload does
  * not exercise stay at 0; every run reports the full metric lists.
  */
final class Outcome {
  val e2e: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  /** Extra facts for the detail line: sample counts, digests, rates. */
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  private val failures = mutable.ArrayBuffer.empty[String]
  private var nChecks = 0
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    nChecks += 1
    if (!ok) failures += s"$name: $detail"
  }
  def correct: Boolean = failures.isEmpty && nChecks > 0
  def failureList: Seq[String] = failures.toSeq
  def checkCount: Int = nChecks

  def setE2e(name: String, v: Double): Unit = e2e(name) = Metric(v, Metrics.e2eUnit(name))
  def setLayer(name: String, v: Double): Unit = layer(name) = Metric(v, Metrics.layerUnit(name))
  def note(k: String, jsonValue: String): Unit = info(k) = jsonValue
}

/** The set-up every workload times: repeated, its median reported as
  * `setup_s`, and the last instance kept for the measured phases.
  */
object Setup {
  val Reps = 3

  /** `start(r)` builds set-up `r`; `stop` releases all but the last. */
  def repeated[A](out: Outcome, tracer: Tracer)(start: Int => A)(stop: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var cur: Option[A] = None
    (1 to Reps).foreach { r =>
      cur.foreach(stop)
      val t0 = System.nanoTime()
      cur = Some(tracer.span("setup")(start(r)))
      times += (System.nanoTime() - t0) / 1e9
    }
    out.setE2e("setup_s", Stats.median(times.toSeq))
    out.note("setup_runs_s", times.map(Json.num).mkString("[", ",", "]"))
    cur.get
  }
}

/** The metric names and units BENCHMARK.json declares. */
object Metrics {
  val e2e: Seq[(String, String)] = Seq(
    "p50_ms" -> "ms", "p99_ms" -> "ms",
    "throughput_ops_s" -> "1/s", "setup_s" -> "s", "live_heap_mb" -> "MB")

  val layer: Seq[(String, String)] = Seq(
    "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count", "streaming.hops_per_op" -> "count",
    "streaming.replies_per_op" -> "count", "streaming.enqueue_us" -> "us",
    "streaming.EventBinary.codec_us" -> "us",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "state.rows_updated_per_batch" -> "count", "state.rows_total" -> "count",
    "state.memory_mb" -> "MB",
    "runtime.handle_us_per_op" -> "us", "flow.instantiate_us" -> "us",
    "streaming.EventJson.codec_us" -> "us",
    "serving.self_us" -> "us", "serving.non2xx" -> "count",
    "gen.late_ms_max" -> "ms", "gen.backlog_slope_ops_s" -> "ops/s") ++
    Analytics.Suite.map(_._2).distinct.map(m => s"$m.exec_s" -> "s") ++ Seq(
    "queries.build_s" -> "s", "queries.plan_s" -> "s",
    "queries.jobs" -> "count", "queries.tasks" -> "count",
    "queries.shuffle_write_mb" -> "MB", "queries.shuffle_read_mb" -> "MB",
    "queries.spill_mb" -> "MB", "queries.cpu_s" -> "s", "queries.gc_s" -> "s",
    "sources.input_mb" -> "MB")

  private val e2eUnits = e2e.toMap
  private val layerUnits = layer.toMap
  def e2eUnit(n: String): String = e2eUnits(n)
  def layerUnit(n: String): String = layerUnits(n)

  /** Used heap after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
