package perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Generator determinism, the metric lists against BENCHMARK.json, and a
  * tiny-size smoke run of every workload through its checks.
  */
class WorkloadSpec extends AnyFunSuite {

  private def ycsbDigest(spec: Ycsb.Spec, seed: Long): String = {
    val g = new Ycsb.Gen(spec, seed)
    Stats.digest(Iterator.fill(5000)(g.next().line))
  }

  test("op sequences are a function of the seed") {
    for (spec <- Seq(Ycsb.A, Ycsb.T)) {
      assert(ycsbDigest(spec, 7) == ycsbDigest(spec, 7))
      assert(ycsbDigest(spec, 7) != ycsbDigest(spec, 8))
    }
    def gw(seed: Long) = Stats.digest(Gateway.ops(seed, 2, 5000, keys = 100).map(_.line))
    assert(gw(7) == gw(7) && gw(7) != gw(8))
    def an(seed: Long) = Analytics.order(seed, 3).map(_.name)
    assert(an(7) == an(7) && an(7) != an(8))
    assert(an(7).sorted == Analytics.Suite.map(_._1).sorted)
  }

  test("transfers never name one key twice; the A mix is half reads") {
    val t = new Ycsb.Gen(Ycsb.T, 3)
    assert(Iterator.fill(10000)(t.next()).forall(op => op.kind == 2 && op.key != op.other))
    val a = new Ycsb.Gen(Ycsb.A, 3)
    val reads = Iterator.fill(10000)(a.next()).count(_.kind == 0)
    assert(reads > 4800 && reads < 5200)
  }

  test("the metric lists match BENCHMARK.json") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def names(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }
    assert(names("end_to_end") == Metrics.e2e)
    assert(names("per_layer") == Metrics.layer)
    val workloads = json.get("workloads").elements()
    Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText())
      .foreach(w => assert(Main.workloads.contains(w), w))
  }

  private def config(workload: String, trace: Boolean) = {
    val base = Paths.get("target", "smoke", workload)
    Main.Config(workload, seed = 1, seconds = 2, trace = trace, tmp = base.resolve("tmp"),
      out = base.resolve("out"), analyticsData = Paths.get("data", "sf0.01"))
  }

  private def assertComplete(out: Outcome, trace: Boolean): Unit = {
    assert(out.correct, out.failureList.mkString("; "))
    assert(out.failed == 0)
    assert(out.attempted > 0)
    assert(Metrics.e2e.forall { case (n, _) => out.e2e.get(n).exists(m => m.value > 0) },
      s"end-to-end metrics missing or zero: ${out.e2e}")
    val line = Main.metricsJson(out, trace)
    (if (trace) Metrics.layer else Metrics.e2e).foreach { case (n, _) => assert(line.contains(s"\"$n\""), n) }
  }

  private def smokeYcsb(spec: Ycsb.Spec): Outcome = {
    val cfg = config(spec.name, trace = true)
    val spark = Main.spark(cfg.tmp)
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    try Ycsb.run(spec, spark, cfg, new Tracer("smoke", enabled = true), jobs)
    finally spark.stop()
  }

  test("smoke: ycsb-a at 1,000 keys") {
    val out = smokeYcsb(Ycsb.A.copy(keys = 1000, rate = 100))
    assertComplete(out, trace = true)
    assert(out.layer("streaming.hops_per_op").value == 0.0)
    assert(out.layer("streaming.replies_per_op").value == 1.0)
  }

  test("smoke: ycsb-t at 200 keys") {
    val out = smokeYcsb(Ycsb.T.copy(keys = 200, rate = 50))
    assertComplete(out, trace = true)
    assert(out.layer("streaming.hops_per_op").value > 1.5)
    assert(out.layer("streaming.replies_per_op").value == 1.0)
    assert(out.layer("flow.instantiate_us").value > 0)
  }

  test("smoke: gateway at 200 keys") {
    val out = Gateway.run(config("gateway", trace = true), new Tracer("smoke", enabled = true), keys = 200)
    assertComplete(out, trace = true)
    assert(out.layer("serving.non2xx").value == 0.0)
    assert(out.layer("runtime.handle_us_per_op").value > 0)
  }

  test("smoke: analytics, untraced") {
    val out = Analytics.run(config("analytics", trace = false), new Tracer("smoke", enabled = false))
    assertComplete(out, trace = false)
  }
}
