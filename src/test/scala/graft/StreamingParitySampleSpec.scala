package graft

import org.scalacheck.Gen
import graft.model._
import graft.runtime.Client
import graft.runtime.local.LocalRuntime
import graft.streaming.StreamingEntityRuntime
import graft.flow.{FlowDef, FlowRegistry}

/** Spot-check that LocalRuntime/StreamingEntityRuntime equivalence
  * extends beyond the fixed S1-S6 scenarios: a sample of the random
  * property-test programs must produce identical results and entity
  * states on BOTH transports (each streaming run crosses real
  * micro-batch + drain-round machinery).
  */
class StreamingParitySampleSpec extends SparkSpec with FlowProgramGen {

  test("random flows behave identically on local and streaming runtimes") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(2026L)
    for (n <- 1 to 5) {
      val prog = genProgram.pureApply(params, seed)
      seed = seed.next
      val flowId = s"ExperimentalA.sp_$n"
      FlowRegistry.register(FlowDef(flowId, Seq("others"), toSteps(prog)))

      def runOn(transport: graft.runtime.EventTransport): (Any, Any, Any) = {
        val c = new Client(TestEntities.registry, transport)
        val Right(a) = c.create("ExperimentalA", Map("name" -> s"a$n"))
        val Right(b0) = c.create("ExperimentalB", Map("name" -> s"b0_$n"))
        val Right(b1) = c.create("ExperimentalB", Map("name" -> s"b1_$n"))
        val r = c.call(a, s"sp_$n", Map("others" -> Seq(b0, b1)))
        (r, c.getAttr(b0, "balance"), c.getAttr(b1, "balance"))
      }

      val local = runOn(new LocalRuntime(TestEntities.registry))
      val srt = new StreamingEntityRuntime(TestEntities.registry, spark)
      try {
        val streamed = runOn(srt)
        assert(streamed === local, s"parity break for program $prog")
      } finally srt.close()
    }
  }
}
