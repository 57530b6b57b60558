package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Micro-batch facts read from the runtime's `progressJson`. */
final case class BatchProgress(
    batchId: Long, startEpochMs: Long, inputRows: Long,
    durations: Map[String, Double], state: Option[JsonNode])

object Progress {
  private val mapper = new ObjectMapper()

  def parse(json: Seq[String]): Seq[BatchProgress] = json.map { s =>
    val n = mapper.readTree(s)
    val d = n.get("durationMs")
    val durs = d.fieldNames().asScala.map(k => k -> d.get(k).asDouble()).toMap
    val st = Option(n.get("stateOperators")).filter(_.size() > 0).map(_.get(0))
    BatchProgress(n.get("batchId").asLong(),
      java.time.Instant.parse(n.get("timestamp").asText()).toEpochMilli,
      n.get("numInputRows").asLong(), durs, st)
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Streaming and state-store metrics over the busy batches from
    * `firstBatch` on (median per batch), plus one synthesized span per
    * batch with its phases as children.
    */
  def layerMetrics(json: Seq[String], firstBatch: Long, out: Outcome, tracer: Tracer,
      jobs: JobStats): Unit = {
    val busy = parse(json).filter(b => b.batchId >= firstBatch && b.inputRows > 0)
    def dur(k: String): Seq[Double] = busy.map(_.durations.getOrElse(k, 0.0))
    out.setLayer("streaming.batch_ms", med(dur("triggerExecution")))
    out.setLayer("streaming.add_batch_ms", med(dur("addBatch")))
    out.setLayer("streaming.wal_commit_ms", med(dur("walCommit")))
    out.setLayer("streaming.commit_offsets_ms", med(dur("commitOffsets")))
    out.setLayer("streaming.query_planning_ms", med(dur("queryPlanning")))
    out.setLayer("streaming.latest_offset_ms", med(dur("latestOffset")))
    out.setLayer("streaming.rows_per_batch", med(busy.map(_.inputRows.toDouble)))
    def st(f: String): Seq[Double] = busy.flatMap(_.state.map(_.get(f).asDouble()))
    out.setLayer("state.commit_ms", med(st("commitTimeMs")))
    out.setLayer("state.update_ms", med(st("allUpdatesTimeMs")))
    out.setLayer("state.rows_updated_per_batch", med(st("numRowsUpdated")))
    out.setLayer("state.rows_total", busy.lastOption.flatMap(_.state).map(_.get("numRowsTotal").asDouble()).getOrElse(0.0))
    out.setLayer("state.memory_mb", busy.lastOption.flatMap(_.state).map(_.get("memoryUsedBytes").asDouble() / 1048576.0).getOrElse(0.0))
    val perBatch = busy.flatMap(b => jobs.get(s"batch:${b.batchId}"))
    out.setLayer("streaming.jobs_per_batch", med(perBatch.map(_.jobs.get.toDouble)))
    out.setLayer("streaming.tasks_per_batch", med(perBatch.map(_.tasks.get.toDouble)))
    out.note("busy_batches", busy.size.toString)
    busy.foreach { b =>
      val id = tracer.synth("streaming.batch", b.startEpochMs, b.durations.getOrElse("triggerExecution", 0.0))
      b.durations.foreach { case (k, v) => if (k != "triggerExecution") tracer.synth(s"streaming.batch.$k", b.startEpochMs, v, id) }
    }
  }
}
