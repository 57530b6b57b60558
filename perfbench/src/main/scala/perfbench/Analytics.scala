package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries.QueryDef
import graft.sources.Tables

/** Layer-B queries on a fresh Spark session, one per module of the
  * relational and LLM-pipeline operators, so those do all the work and
  * the entity layers none. A query's latency is its build (`fn`, which
  * includes any eager collects) and run to completion with its rows
  * collected into the JVM; the latency reported is that of a pass over the
  * suite, each query's median (or tail) latency summed over the suite.
  * Rows are checked against the recorded results after the timer stops.
  * The Spark cache is cleared before each query.
  *
  * After an untimed warm-up that runs every query once, the measured phase
  * runs one stream of queries, pass after pass, each pass in a seeded
  * order. One stream: with two, a query's latency also depends on which
  * query the other stream runs beside it, which the seed decides.
  *
  * The queries still get faster from pass to pass as the JIT compiler
  * catches up, so the phase runs a fixed number of passes, [[PassSeconds]]
  * of its `--seconds` each: stopping on a deadline instead would take fewer
  * and earlier (slower) passes on a slower host, and widen every
  * difference in host speed.
  */
object Analytics {

  /** Query -> the module whose code does its work. */
  val Suite: Seq[(String, String)] = Seq(
    "q9_topk_revenue" -> "queries.Relational",
    "ev1_sessionize" -> "queries.Events",
    "dd2_minhash_lsh" -> "operators.Dedup",
    "tok1_bpe_tokenize" -> "operators.TextAnalysis",
    "dd5b_embedding_lsh" -> "operators.Similarity")

  /** About the time one pass takes on a 4-vCPU host. */
  val PassSeconds = 4.5

  def passes(seconds: Int): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  def queries: Seq[QueryDef] = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    Suite.map { case (n, _) => byName.getOrElse(n, throw new IllegalStateException(s"no query $n")) }
  }

  /** Expected result per query: row count, column names sorted and
    * canonical digest (which leaves the names out).
    */
  final case class Expected(rows: Long, columns: Seq[String], digest: Option[String])

  def readExpected(p: Path): Map[String, Expected] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
    Suite.map { case (q, _) =>
      val e = Option(n.get(q)).getOrElse(throw new IllegalStateException(s"$p has no entry for $q"))
      val cols = e.get("columns").elements()
      q -> Expected(e.get("rows").asLong(),
        Iterator.continually(cols).takeWhile(_.hasNext).map(_.next().asText()).toSeq.sorted,
        Option(e.get("digest")).filterNot(_.isNull).map(_.asText()))
    }.toMap
  }

  /** The suite in the seeded order of pass `pass`. */
  def order(seed: Long, pass: Int): Seq[QueryDef] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** One timed query run, and what it returned. */
  final case class Sample(name: String, group: String, pass: Int, ms: Double,
      rows: Long, columns: Seq[String], digest: String)

  /** Median and tail latency of a pass over the suite: each query's
    * median and tail (see [[Stats.tailLevel]]) summed over the queries.
    */
  def passMs(samples: Seq[Sample]): (Double, Double) = {
    val byQuery = samples.groupBy(_.name).values.map(q => Stats.summarize(q.map(_.ms)))
    (byQuery.map(_.p50).sum, byQuery.map(_.tail).sum)
  }

  private def session(cfg: Main.Config): SparkSession = {
    val s = Main.spark(cfg.tmp)
    // schema discovery of every table: the catalog work a first query pays
    Tables.all.foreach(t => Tables.load(s, cfg.analyticsData.toString, t).schema)
    s
  }

  /** Run one query under its own job group; the digest is taken after the
    * timer stops.
    */
  private def runOne(spark: SparkSession, q: QueryDef, dir: String, name: String, pass: Int,
      tracer: Tracer, parent: Long): Sample = {
    val group = s"$name:$pass:${q.name}"
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, q.name)
    try {
      val t0 = System.nanoTime()
      val (cols, rows) = tracer.spanId(s"query.${q.name}", parent) { id =>
        val df = tracer.span("queries.build", id)(q.fn(spark, dir))
        if (tracer.enabled) tracer.span("queries.plan", id)(df.queryExecution.executedPlan)
        (df.columns.toSeq, tracer.span("queries.exec", id)(df.collect().toSeq))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      Sample(q.name, group, pass, ms, rows.length.toLong, cols.sorted, Canon.digestRows(cols, rows))
    } finally sc.clearJobGroup()
  }

  /** Run the passes `passIds` over the suite, each in its seeded order. */
  private def phase(spark: SparkSession, cfg: Main.Config, name: String, passIds: Seq[Int],
      tracer: Tracer, parent: Long): Seq[Sample] = {
    val dir = cfg.analyticsData.toString
    for (pass <- passIds; q <- order(cfg.seed, pass)) yield runOne(spark, q, dir, name, pass, tracer, parent)
  }

  def run(cfg: Main.Config, tracer: Tracer): Outcome = {
    val out = new Outcome
    val expected = readExpected(
      cfg.analyticsData.toAbsolutePath.getParent.resolveSibling("expected").resolve("analytics.json"))
    val orders = (-1 until passes(cfg.seconds)).map(p => order(cfg.seed, p).map(_.name).mkString(","))
    out.note("op_digest", Json.str(Stats.digest(orders.iterator)))

    // Set-up: start Spark and discover every table's schema.
    val spark = Setup.repeated(out, tracer)(_ => session(cfg))(_.stop())
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    try {
      val tw = System.nanoTime()
      // every query once, cold: code generation and JIT compilation happen here
      val warm = tracer.spanId("phase.warm")(id => phase(spark, cfg, "warm", Seq(-1), tracer, id))
      val t0 = System.nanoTime()
      val measured = tracer.spanId("phase.measured")(id =>
        phase(spark, cfg, "measured", 0 until passes(cfg.seconds), tracer, id))
      val wall = (System.nanoTime() - t0) / 1e9
      out.note("phase_s", Json.obj(Seq("warm" -> Json.num((t0 - tw) / 1e9), "measured" -> Json.num(wall))))
      out.setE2e("live_heap_mb", Metrics.liveHeapMb())

      val (p50, tail) = passMs(measured)
      out.setE2e("p50_ms", p50); out.setE2e("p99_ms", tail)
      out.setE2e("throughput_ops_s", measured.size / wall)
      out.note("samples", measured.size.toString)

      val all = warm ++ measured
      def matches(s: Sample): Boolean = {
        val e = expected(s.name)
        s.rows == e.rows && s.columns == e.columns && e.digest.forall(_ == s.digest)
      }
      all.foreach { s =>
        val e = expected(s.name)
        out.check(s"${s.name} (${s.group}) result", matches(s),
          s"${s.rows} rows, columns ${s.columns}, digest ${s.digest}; " +
            s"expected ${e.rows} rows, columns ${e.columns}, digest ${e.digest.getOrElse("-")}")
      }
      out.attempted = measured.size
      out.failed = measured.count(s => !matches(s))
      if (tracer.enabled) layerMetrics(measured, jobs, out, tracer)
    } finally spark.stop()
    out
  }

  /** Per-layer metrics of one pass over the suite: for each query the
    * median over its measured runs, summed over the queries.
    */
  private def layerMetrics(measured: Seq[Sample], jobs: JobStats, out: Outcome, tracer: Tracer): Unit = {
    val module = Suite.toMap
    val spans = tracer.all
    val byId = spans.map(s => s.id -> s).toMap
    def passTotal(xs: Map[String, Seq[Double]]): Double = xs.values.map(Stats.median).sum
    val measuredPhase = spans.find(_.name == "phase.measured").map(_.id)
    def measuredChild(kind: String): Map[String, Seq[Double]] =
      spans.filter(s => s.name == kind && byId.get(s.parent).exists(q => measuredPhase.contains(q.parent)))
        .map(s => byId(s.parent).name.stripPrefix("query.") -> s.us / 1e6).groupMap(_._1)(_._2)
    val exec = measuredChild("queries.exec")
    Suite.map(_._2).distinct.foreach { m =>
      out.setLayer(s"$m.exec_s", passTotal(exec.filter { case (q, _) => module(q) == m }))
    }
    out.setLayer("queries.build_s", passTotal(measuredChild("queries.build")))
    out.setLayer("queries.plan_s", passTotal(measuredChild("queries.plan")))
    val byQuery = measured.groupBy(_.name)
    def jobTotal(f: JobStats#Agg => Double): Double =
      byQuery.values.map { ss =>
        val xs = ss.flatMap(s => jobs.get(s.group)).map(f)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }.sum
    out.setLayer("queries.jobs", jobTotal(_.jobs.get.toDouble))
    out.setLayer("queries.tasks", jobTotal(_.tasks.get.toDouble))
    out.setLayer("queries.shuffle_write_mb", jobTotal(_.shuffleWriteB.get / 1048576.0))
    out.setLayer("queries.shuffle_read_mb", jobTotal(_.shuffleReadB.get / 1048576.0))
    out.setLayer("queries.spill_mb", jobTotal(_.spillB.get / 1048576.0))
    out.setLayer("queries.cpu_s", jobTotal(_.cpuNs.get / 1e9))
    out.setLayer("queries.gc_s", jobTotal(_.gcMs.get / 1e3))
    out.setLayer("sources.input_mb", jobTotal(_.inputB.get / 1048576.0))
  }
}
