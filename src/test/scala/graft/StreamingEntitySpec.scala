package graft

import graft.model.TestEntities
import graft.runtime.EventTransport
import graft.streaming.StreamingEntityRuntime

/** The S1-S11 scenario gate end-to-end through Structured Streaming
  * (MemoryStream -> foreachBatch drain rounds over the partitioned state
  * RDD). The draining and changelog properties, and the same gate over
  * the durable configuration, are in [[DrainingEntitySpec]].
  */
class StreamingEntitySpec extends EntityScenarios with SparkSpec {

  private var open: List[StreamingEntityRuntime] = Nil

  override def freshTransport(): EventTransport = {
    val rt = new StreamingEntityRuntime(TestEntities.registry, spark)
    open ::= rt
    rt
  }

  override def withFixture(test: NoArgTest) = {
    try super.withFixture(test)
    finally { open.foreach(_.close()); open = Nil }
  }
}
