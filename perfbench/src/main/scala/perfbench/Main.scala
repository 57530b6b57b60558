package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --tmp <scratch dir> --out <result dir>
  * }}}
  *
  * Runs one workload, checks its outputs, and prints as the last stdout
  * line `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics untraced, the per-layer metrics traced. The line before it
  * carries sample counts, the op digest and check results. A traced run
  * also writes its spans, and reports tracing overhead against the
  * untraced result of the same workload and seed when that is in `--out`.
  * Exits 1 when a check fails.
  */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tmp: Path, out: Path, analyticsData: Path)

  val workloads: Seq[String] = Seq("ycsb-a", "ycsb-t", "gateway", "analytics")

  def parse(argv: Array[String]): Config = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(workloads.contains(w), s"unknown workload $w; one of ${workloads.mkString(", ")}")
    val seconds = req("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = req("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Config(w, req("seed").toLong, seconds, trace, Paths.get(req("tmp")), Paths.get(req("out")),
      Paths.get(kv.getOrElse("data", "perfbench/data/sf0.01")))
  }

  def spark(tmp: Path): SparkSession = {
    // Tasks get half the cores: the driver's own threads (the micro-batch
    // loop, the load generator, JIT compilation and GC) need the rest, and
    // with a task thread per core they queue behind tasks. On a 4-vCPU host
    // two task threads gave ycsb-t 8-25% lower latency than four, run for
    // run, and analytics no slower.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The entity runtime has no timers, so batches without data only
      // burn scheduler time; progress is kept for the whole run.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      // Spark keeps the status of past jobs and queries for its UI; kept
      // short, the live heap holds the engine's data rather than that log,
      // whose length depends on how much work the run got done.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(cfg: Config): Outcome = {
    val runId = s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}-${System.currentTimeMillis()}"
    val tracer = new Tracer(runId, cfg.trace)
    val out = cfg.workload match {
      case "gateway" => Gateway.run(cfg, tracer)
      case "analytics" => Analytics.run(cfg, tracer)
      case w =>
        val s = spark(cfg.tmp)
        val jobs = new JobStats
        s.sparkContext.addSparkListener(jobs)
        try Ycsb.run(if (w == "ycsb-a") Ycsb.A else Ycsb.T, s, cfg, tracer, jobs)
        finally s.stop()
    }
    if (cfg.trace) {
      val enq = tracer.us("streaming.enqueue")
      if (enq.nonEmpty) out.setLayer("streaming.enqueue_us", Stats.median(enq))
      val spans = cfg.out.resolve(s"spans-${cfg.workload}-seed${cfg.seed}.jsonl")
      tracer.write(spans)
      out.note("span_file", Json.str(spans.toString))
      out.note("span_count", tracer.all.size.toString)
    }
    out
  }

  def metricsJson(out: Outcome, traced: Boolean): String =
    if (traced) Json.obj(Metrics.layer.map { case (n, u) =>
      n -> metricJson(out.layer.get(n).map(_.value).getOrElse(0.0), u) })
    else Json.obj(Metrics.e2e.map { case (n, u) =>
      n -> metricJson(out.e2e.getOrElse(n, throw new IllegalStateException(s"$n not measured")).value, u) })

  private def metricJson(v: Double, unit: String) =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    Files.createDirectories(cfg.out)
    val out = run(cfg)
    val e2e = Json.obj(out.e2e.toSeq.map { case (k, m) => k -> Json.num(m.value) })
    val tag = s"${cfg.workload}-seed${cfg.seed}"
    if (cfg.trace) {
      // Tracing overhead: this traced run's end-to-end figures minus the
      // untraced run's, when that run left its result here.
      val untraced = cfg.out.resolve(s"e2e-$tag-trace0.json")
      if (Files.exists(untraced)) {
        val base = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(untraced))
        out.note("tracing_overhead", Json.obj(out.e2e.toSeq.collect {
          case (k, m) if base.has(k) => k -> Json.num(m.value - base.get(k).asDouble())
        }))
      }
    }
    Files.writeString(cfg.out.resolve(s"e2e-$tag-trace${if (cfg.trace) 1 else 0}.json"), e2e + "\n")
    val detail = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "seconds" -> cfg.seconds.toString, "checks" -> out.checkCount.toString,
      "check_failures" -> out.failureList.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> e2e) ++ out.info.toSeq)
    println(detail)
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> metricsJson(out, cfg.trace))))
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}
