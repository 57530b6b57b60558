package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Event

/** Kafka wiring for the entity runtime — the production transport the
  * reference uses (`client_request`/`internal`/`client_reply` topics,
  * /root/reference/stateflow/client/kafka_client.py:165-206).
  *
  * The build has no broker and no kafka connector jar, so these
  * builders are compile-checked shape only (NOT exercised by tests).
  * [[StreamingEntityRuntime]] drains continuations inside the batch, so
  * it needs no "internal" topic; its durable file ingress plays the
  * replayable `client_request` role locally. On a real cluster:
  *
  * {{{
  * val events = KafkaEventBridge.reader(spark, "broker:9092", "client_request")
  * // -> foreachBatch drain rounds over the entity state (handle)
  * // -> KafkaEventBridge.writer(replies, "broker:9092", "client_reply")
  * }}}
  */
object KafkaEventBridge {

  /** Wire schema of the event envelope on Kafka (JSON, FIXTURES.md A.2);
    * [[EventJson]] is the codec producing/consuming it.
    */
  val wireSchema: String =
    "event_id STRING, namespace STRING, name STRING, key STRING, event_type STRING, payload STRING"

  /** Typed event stream off the broker: value bytes -> [[EventJson.decode]]
    * on the executors (per-partition narrow map, no driver involvement).
    */
  def reader(spark: SparkSession, bootstrap: String, topics: String): Dataset[Event] =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", "latest")
      .load()
      .select(col("value").cast("string"))
      .as(Encoders.STRING)
      .map(EventJson.decode(_))(Encoders.kryo[Event])

  def writer(events: Dataset[Event], bootstrap: String, topic: String) =
    events
      .map(ev => (ev.eventId, EventJson.encode(ev)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .toDF("key", "value")
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
}
