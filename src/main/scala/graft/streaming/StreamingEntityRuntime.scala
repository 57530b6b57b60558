package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDDPartition, MicroBatchScanExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MemoryStreamInputPartition, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.model.Types._
import graft.runtime.StatefulOperator

/** The Structured Streaming lowering of the entity runtime: a flow with
  * any number of inter-key hops completes in ONE micro-batch.
  *
  *   client ingress (MemoryStream, or a durable file source)
  *     --foreachBatch--> drain rounds over a hash-partitioned state RDD
  *     --> replies -> driver reply table (the "client_reply topic")
  *
  * The reference pays one broker round trip per hop
  * (stateflow/dataflow/dataflow.py:96-106 in the reference). Its same-key
  * step batching (stateful_operator.py:249-275, our
  * [[StatefulOperator.stepFlow]]) shows that successive steps need no
  * round trip when the runtime owns the state; this runtime owns the
  * state, so successive CROSS-key steps need no trigger round trip
  * either. Per-batch coordination, not per-event work, sets a
  * micro-batch engine's latency floor, so fewer batches per op is the
  * lever (Drizzle, SOSP 2017).
  *
  *   - **State**: an RDD with one `(entity, key) -> State` hash map per
  *     partition, keys hash-partitioned into `spark.sql.shuffle.partitions`
  *     partitions, the rule Spark's own state store operators follow. The
  *     partitioner is driver-computable, so a drain round runs tasks only
  *     on the partitions hosting its keys ([[PartitionPruningRDD]]), and a
  *     task finds its keys by lookup, not by scan.
  *   - **Drain rounds**: round 0 groups the batch's client events by key;
  *     each round runs [[StatefulOperator.handle]] per key. A key an
  *     earlier round of the batch returned runs on the driver over the
  *     state that round returned; the others need their store rows, so
  *     they run in one job, one task per touched partition, each task
  *     receiving only its own keys. A round with no such key runs no job.
  *     Replies go to the client; continuations become the next round's
  *     events at once. Rounds are bounded by flow depth, capped by
  *     `maxDrainRounds` (driver rounds count too) with a next-batch spill
  *     for liveness.
  *   - **Jobs per batch**: an in-memory batch's rows are read on the
  *     driver, where MemoryStream holds them, so the input costs no job
  *     (the file ingress collects its batch: one job). Then one job per
  *     round that reaches a key not yet read: one for single-key ops, two
  *     for a transfer (payer, payee; the answer back on the payer runs on
  *     the driver), plus a lineage cut every [[CompactEvery]] merges.
  *   - **Overlay**: states written this batch stay in a driver-held map
  *     between rounds (authoritative over the store) and merge into the
  *     store once per batch in one narrow pass that copies each map it
  *     touches (a map is never changed once built, so a retried task sees
  *     the same input), as Spark's HDFS-backed state store copies its map
  *     per version. The overlay, like the states the batch's rounds
  *     returned, lives for one batch: the same driver budget as the
  *     replies; the store itself never sits on the driver. Merged
  *     versions persist lazily, and every [[CompactEvery]] merges a
  *     `localCheckpoint` cuts the lineage.
  *   - **Bytes**: ingress rows and lines, round work, round results,
  *     merges and the changelog all use [[EventBinary]], the runtime's
  *     one codec. A file-ingress line it rejects is skipped and counted
  *     ([[rejectedInputCount]]): a poison line neither fails the batch
  *     nor, replayed, the restart.
  *
  * Durability (with `checkpointDir`): the streaming checkpoint lives
  * there and a state changelog beside it (`<checkpointDir>-state`). The
  * checkpoint's offset and commit logs are written by
  * [[LocalCheckpointFileManager]] unless the session names another
  * manager: Spark's default forks a `chmod` for each file Hadoop's local
  * filesystem creates, ~28 ms per log entry and two entries per batch,
  * where a `java.nio` write and rename cost ~0.1 ms. Each
  * batch's overlay is written as one file named by its batch id, from the
  * driver and atomically renamed, before the batch commits. On start the
  * runtime restores only deltas of batches at or below the last entry in
  * `<checkpointDir>/commits` and deletes newer ones, so a batch that Spark
  * replays after a crash is applied once. Input replay needs a replayable
  * source: `fileInputDir`. With the in-memory ingress, input dies with
  * the JVM. Replies are exactly-once across [[close]], which finishes
  * the queued input first, and at-least-once across a crash (a replayed
  * batch answers again, with the same values). A changelog written
  * before [[EventBinary]] (a Java serialization stream) is refused at
  * start: there is no migration.
  *
  * @param checkpointDir durable streaming checkpoint; without it the
  *   checkpoint is a session temp dir and state is not persisted
  * @param fileInputDir client events enter through a durable file source
  *   at this path instead of an in-memory stream: the replayable source a
  *   restart needs (a broker topic would play this role in production).
  *   A batch applies its files in name order, and
  *   a send's file name carries a monotone sequence, so sends that share
  *   a batch are applied in send order.
  * @param maxDrainRounds drain rounds per batch before the remaining
  *   continuations spill into the ingress for the next batch
  */
final class StreamingEntityRuntime(
    registry: EntityRegistry,
    spark: SparkSession,
    checkpointDir: Option[String] = None,
    fileInputDir: Option[String] = None,
    maxDrainRounds: Int = 64)
    extends graft.runtime.EventTransport with AutoCloseable {
  import StreamingEntityRuntime._
  import spark.implicits._
  require(maxDrainRounds >= 1, s"maxDrainRounds must be >= 1, got $maxDrainRounds")

  private val sc = spark.sparkContext
  private val partitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  private val ckpt: Path = checkpointDir.map(Paths.get(_))
    .getOrElse(Files.createTempDirectory("graft-ckpt"))
  private val changelog: Option[Path] = checkpointDir.map { c =>
    Files.createDirectories(Paths.get(c + "-state"))
  }
  private val fileInput: Option[Path] = fileInputDir.map(d => Files.createDirectories(Paths.get(d)))
  private val input = MemoryStream[Array[Byte]](spark, numPartitions = 1)
  private val replies = new ConcurrentHashMap[String, Event]()

  // Batch bodies and changelog compaction take this lock; the store vars
  // below have no other writer.
  private val storeLock = new Object
  /** Id of the last batch whose state `base` holds. */
  private var lastMerged: Long = lastCommitted(ckpt)
  private var base: RDD[Part] = (changelog match {
    case Some(dir) =>
      dropUncommitted(dir, lastMerged)
      restore(sc, dir, partitioner)
    case None => sc.parallelize(Seq.fill(partitioner.numPartitions)(new Part()), partitioner.numPartitions)
  }).persist(StorageLevel.MEMORY_AND_DISK)
  // older store versions, unreachable after the next lineage cut
  private val retained = mutable.ListBuffer.empty[RDD[Part]]
  private var merges = 0L

  @volatile private var driverCollected = 0L
  @volatile private var drainedHops = 0L
  @volatile private var rejectedInput = 0L

  private def processBatch(batchId: Long, events: Array[Event]): Unit = if (events.nonEmpty) storeLock.synchronized {
    var groups = groupByKey(events.toSeq)
    // every key a round returned, changed or not: later rounds run it on
    // the driver; only the overlay (changed keys) is logged and merged
    val known = mutable.HashMap.empty[Key, Option[State]]
    val overlay = mutable.LinkedHashMap.empty[Key, Option[State]]
    var round = 0
    while (groups.nonEmpty && round < maxDrainRounds) {
      val conts = Vector.newBuilder[Event]
      runRound(groups, known).foreach { r =>
        known(r.key) = r.state
        // an unchanged key keeps its store row: a read writes nothing
        if (r.changed) overlay(r.key) = r.state
        r.out.foreach { ev =>
          if (ev.eventType.isInstanceOf[EventType.Reply]) {
            replies.put(ev.eventId, ev)
            driverCollected += 1
          } else conts += ev
        }
      }
      val c = conts.result()
      drainedHops += c.size
      groups = groupByKey(c)
      round += 1
    }
    // the next trigger resumes the drain where this batch stopped
    if (groups.nonEmpty) enqueue(groups.valuesIterator.flatten.toSeq, Some(spillName(batchId)))
    if (overlay.nonEmpty) {
      changelog.foreach(writeEntries(_, deltaName(batchId), overlay.toVector))
      merge(overlay)
    }
    lastMerged = batchId
  }

  /** One drain round. A key an earlier round of the batch returned runs
    * on the driver over its known state; the others need their store
    * rows, so they run in one job, one task per touched partition. A
    * round with no such key runs no job. Results come in partition order,
    * then in the keys' first-seen order, wherever they ran.
    */
  private def runRound(
      groups: mutable.LinkedHashMap[Key, Vector[Event]],
      known: mutable.HashMap[Key, Option[State]]): Seq[DrainOut] = {
    val (local, remote) = groups.partition { case (k, _) => known.contains(k) }
    val out = mutable.HashMap.empty[Key, DrainOut]
    if (remote.nonEmpty) {
      val byPid = remote.toVector.map { case (k, evs) => Work(k, evs) }
        .groupBy(w => partitioner.getPartition(w.key))
      // a plain Set: the prune filter stays in the lineage the tasks ship
      val pids = byPid.keys.toSet
      val reg = registry
      PartitionPruningRDD.create(
        base.zipPartitions(slices(byPid)(EventBinary.works.encode)) { (parts, ws) =>
          val work = EventBinary.works.decode(ws.next())
          Iterator.single(EventBinary.results.encode(runPartition(reg, work, parts.next())))
        }, pids.contains).collect().foreach(EventBinary.results.decode(_).foreach(r => out(r.key) = r))
    }
    local.foreach { case (k, evs) => out(k) = runKey(registry, k, known(k), evs) }
    groups.keysIterator.toVector.sortBy(partitioner.getPartition).map(out)
  }

  /** One encoded slice per store partition, so a task ships only its
    * own keys.
    */
  private def slices[A](byPid: Map[Int, Vector[A]])(encode: Seq[A] => Array[Byte]): RDD[Array[Byte]] = {
    val n = partitioner.numPartitions
    sc.parallelize(Seq.tabulate(n)(p => encode(byPid.getOrElse(p, Vector.empty[A]))), n)
  }

  /** Splice the overlay into the store: a touched partition's map is
    * copied, its deleted keys removed and its new states put.
    */
  private def merge(overlay: mutable.LinkedHashMap[Key, Option[State]]): Unit = {
    val byPid = overlay.toVector.groupBy { case (k, _) => partitioner.getPartition(k) }
    val updates = slices(byPid)(EventBinary.changelog.encode)
    val merged = base.zipPartitions(updates, preservesPartitioning = true) { (parts, us) =>
      val part = parts.next()
      val changes = EventBinary.changelog.decode(us.next())
      if (changes.isEmpty) Iterator.single(part)
      else {
        val m = new Part(part)
        changes.foreach {
          case (k, Some(s)) => m.put(k, s)
          case (k, None) => m.remove(k)
        }
        Iterator.single(m)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    retained += base
    base = merged
    merges += 1
    if (merges % CompactEvery == 0) checkpointBase()
  }

  /** Materialize the store and cut its lineage; every older version is
    * then unreachable and released.
    */
  private def checkpointBase(): Unit = {
    base.localCheckpoint()
    base.count(): Unit
    retained.foreach(_.unpersist(false))
    retained.clear()
  }

  /** A MemoryStream batch's events, decoded on the driver from the input
    * partitions Spark planned for the batch: the rows already sit here,
    * so reading them takes no job. Nothing runs the scan, so its row
    * metric, which progress reports as `numInputRows`, is counted here.
    * Any other plan shape fails the batch.
    */
  private def memoryBatch(batch: Dataset[Array[Byte]]): Array[Event] = {
    def unexpected(what: Any) = throw new IllegalStateException(s"unexpected ingress batch plan: $what")
    val scan = query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case s: MicroBatchScanExec if s.stream eq input => s } match {
      case Seq(s) => s
      case scans => unexpected(s"${scans.size} scans of the ingress")
    }
    // the batch reads the scan's RDD, so the scan's rows are the batch's
    def lineage(r: RDD[_]): Iterator[RDD[_]] = Iterator.single(r) ++ r.dependencies.iterator.flatMap(d => lineage(d.rdd))
    batch.queryExecution.logical match {
      case l: LogicalRDD if lineage(l.rdd).exists(_ eq scan.inputRDD) =>
      case p => unexpected(p.nodeName)
    }
    val evs = scan.inputRDD.partitions.iterator.flatMap {
      case p: DataSourceRDDPartition => p.inputPartitions.iterator.flatMap {
        case m: MemoryStreamInputPartition => m.records.iterator.map(r => EventBinary.event.decode(r.getBinary(0)))
        case other => unexpected(other)
      }
      case other => unexpected(other)
    }.toArray
    scan.metrics("numOutputRows").add(evs.length.toLong)
    evs
  }

  private val query: StreamingQuery = {
    // the offset and commit logs write a file per batch; Spark's default
    // writer forks a `chmod` for each (see LocalCheckpointFileManager)
    if (spark.conf.getOption(CheckpointFileManagerConf).isEmpty)
      spark.conf.set(CheckpointFileManagerConf, classOf[LocalCheckpointFileManager].getName)
    val writer = fileInput match {
      case Some(in) =>
        spark.readStream.text(in.toString)
          .selectExpr("_metadata.file_name", "_metadata.file_block_start", "value")
          .as[(String, Long, String)]
          .writeStream.foreachBatch { (batch: Dataset[(String, Long, String)], batchId: Long) =>
            // the scan orders its splits by size, not by name: a stable
            // sort restores send order, and line order within a file
            processBatch(batchId, batch.collect().sortBy(r => (r._1, r._2)).flatMap(r => decodeLine(r._3)))
          }
      case None =>
        input.toDS().writeStream.foreachBatch { (batch: Dataset[Array[Byte]], batchId: Long) =>
          processBatch(batchId, memoryBatch(batch))
        }
    }
    writer
      .queryName("graft-entity-runtime")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
  }

  /** An ingress line's event; a line the codec rejects is counted and
    * skipped, so it cannot fail the batch, nor the restart that replays it.
    */
  private def decodeLine(line: String): Option[Event] =
    try Some(EventBinary.decode(line))
    catch { case _: EventBinary.CodecException => rejectedInput += 1; None }

  /** Ingress lines skipped because the codec rejected them. */
  def rejectedInputCount: Long = rejectedInput

  /** Replies surfaced to the driver (every reply, by construction). */
  def driverCollectedCount: Long = driverCollected

  /** Continuations drained inside their batch: the flow hops. */
  def loopbackWrittenCount: Long = drainedHops

  /** (batchId, triggerExecution ms) for every recent micro-batch that
    * carried input; a flow costs one batch, whatever its hop count.
    */
  def busyBatches: Seq[(Long, Double)] =
    query.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.durationMs.get("triggerExecution").toDouble))

  /** Raw progress JSON (duration breakdown per batch). */
  def progressJson: Seq[String] = query.recentProgress.toSeq.map(_.json)

  /** Fold the changelog into one snapshot of the live rows, named by the
    * batch whose state it holds, and delete the entries it subsumes. The
    * entries stay while that batch is not yet committed, so a restart
    * can still skip it. No-op without a `checkpointDir`.
    */
  def compactChangelog(): Unit = changelog.foreach { dir =>
    storeLock.synchronized {
      val old = changelogEntries(dir)
      if (old.size > 1) {
        checkpointBase()
        val label = lastMerged
        val tmp = Files.createDirectories(dir.resolve(s".${snapName(label)}"))
        val tmpS = tmp.toString
        base.mapPartitionsWithIndex { (pid, parts) =>
          writeEntries(Paths.get(tmpS), f"part-$pid%05d",
            parts.next().asScala.iterator.map { case (k, s) => (k, Option(s)) }.toVector)
          Iterator.empty
        }.count(): Unit
        val target = dir.resolve(snapName(label))
        if (Files.exists(target)) deleteTree(tmp)
        else Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE): Unit
        if (label <= lastCommitted(ckpt))
          old.foreach { case (b, p) => if (b <= label && p != target) deleteTree(p) }
      }
    }
  }

  // MemoryStream.addData runs the row ENCODER before taking its internal
  // buffer lock, and ExpressionEncoder serializers are not thread-safe,
  // so the memory path is serialized here; the file path writes unique
  // names with atomic renames.
  private val enqueueLock = new Object

  /** Enqueue events: the memory stream by default; a staged atomic file
    * write when the durable file ingress is configured. A `name` makes
    * the write idempotent: a replayed batch republishes the same file.
    */
  private def enqueue(evs: Seq[Event], name: Option[String] = None): Unit = fileInput match {
    case Some(in) =>
      val file = name.getOrElse(sendName()) + ".txt"
      // staged as a dotfile IN the ingress dir (same filesystem, so the
      // rename is atomic; the file source ignores dot-prefixed names)
      val staged = in.resolve("." + file + "." + java.util.UUID.randomUUID())
      val out = Files.newBufferedWriter(staged)
      try evs.foreach { ev => out.write(EventBinary.encode(ev)); out.newLine() }
      finally out.close()
      Files.move(staged, in.resolve(file), StandardCopyOption.ATOMIC_MOVE): Unit
    case None =>
      val rows = evs.map(EventBinary.event.encode)
      enqueueLock.synchronized(input.addData(rows)): Unit
  }

  // sendAsync, drain and takeReply are safe from any thread: the ingress
  // takes its own lock (see enqueue), processAllAvailable is a blocking
  // probe, batch bodies run on the stream thread, and the reply table is
  // a ConcurrentHashMap

  /** Pipelined fire-and-forget send; replies land in the reply table. */
  override def sendAsync(evs: Seq[Event]): Unit = enqueue(evs)

  /** Run micro-batches until all queued input, spills included, is done. */
  override def drain(): Unit = query.processAllAvailable()

  override def takeReply(eventId: String): Option[Event] = Option(replies.remove(eventId))

  /** Finish the queued input, then stop the query and free the store. */
  override def close(): Unit = {
    try if (query.isActive) query.processAllAvailable()
    catch { case _: StreamingQueryException => () } // already failed: stop anyway
    finally {
      query.stop()
      storeLock.synchronized {
        retained.foreach(_.unpersist(false))
        retained.clear()
        base.unpersist(false)
      }
      if (checkpointDir.isEmpty) deleteTree(ckpt)
    }
  }
}

object StreamingEntityRuntime {
  type Key = (String, String)
  /** One partition of the store; never changed once built. */
  type Part = java.util.HashMap[Key, State]

  /** Merges between lineage cuts of the state store. */
  val CompactEvery = 16

  /** Spark's conf naming the class that writes streaming checkpoint files. */
  private[graft] val CheckpointFileManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** One key's share of a drain round's job: its events. */
  private[streaming] final case class Work(key: Key, events: Vector[Event])

  /** Per-key drain step result: output events and the key's new state.
    * `changed` is value equality against the state the fold started
    * from (handlers build states functionally, never in place).
    */
  private[streaming] final case class DrainOut(key: Key, out: Seq[Event], state: Option[State], changed: Boolean)

  private[streaming] def groupByKey(evs: Seq[Event]): mutable.LinkedHashMap[Key, Vector[Event]] = {
    val m = mutable.LinkedHashMap.empty[Key, Vector[Event]]
    evs.foreach { ev =>
      val k = (ev.entity, ev.key)
      m.update(k, m.getOrElse(k, Vector.empty) :+ ev)
    }
    m
  }

  /** Executor side of a drain round for one partition: fold each key's
    * events over its store state.
    */
  private[streaming] def runPartition(registry: EntityRegistry, work: Seq[Work], part: Part): Seq[DrainOut] =
    work.map(w => runKey(registry, w.key, Option(part.get(w.key)), w.events))

  /** Apply [[StatefulOperator.handle]] over one key's events in order. */
  private[streaming] def runKey(registry: EntityRegistry, key: Key, state0: Option[State],
      evs: Seq[Event]): DrainOut = {
    val handle = StatefulOperator.handle(registry) _
    var cur = state0
    val out = Seq.newBuilder[Event]
    evs.foreach { ev =>
      val (emitted, st) = handle(ev, cur)
      out ++= emitted
      cur = st
    }
    DrainOut(key, out.result(), cur, changed = cur != state0)
  }

  // ---- ingress file names: a batch applies its files in name order ----

  private val sendSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A send's file: a sequence that rises with every send in this JVM and
    * follows the wall clock (µs) across restarts, then a unique suffix.
    */
  private def sendName(): String = {
    val seq = sendSeq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis() * 1000L))
    f"1-send-$seq%020d-${java.util.UUID.randomUUID()}"
  }

  /** A drain spill continues flows sent earlier, so it sorts ahead of
    * every send; named by batch id, a replayed batch rewrites the same file.
    */
  private def spillName(batchId: Long): String = f"0-spill-$batchId%012d"

  // ---- changelog ----------------------------------------------------

  private def deltaName(batchId: Long): String = f"delta-$batchId%012d"
  private def snapName(batchId: Long): String = f"snap-$batchId%012d"
  private val Entry = """(delta|snap)-(\d+)""".r

  /** (batch id, path) of every changelog delta file and snapshot dir. */
  private[streaming] def changelogEntries(dir: Path): Seq[(Long, Path)] =
    listDir(dir).flatMap { p =>
      p.getFileName.toString match {
        case Entry(_, b) => Some((b.toLong, p))
        case _ => None
      }
    }

  /** Id of the last committed batch of a streaming checkpoint, -1 if none.
    * Batches commit in order, so every id at or below it is committed
    * (old commit entries may have been purged).
    */
  private[streaming] def lastCommitted(ckpt: Path): Long =
    listDir(ckpt.resolve("commits")).map(_.getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .maxOption.getOrElse(-1L)

  /** Delete entries of batches the checkpoint never committed (Spark
    * replays those) and unfinished temp files.
    */
  private def dropUncommitted(dir: Path, committed: Long): Unit = {
    changelogEntries(dir).foreach { case (b, p) => if (b > committed) deleteTree(p) }
    listDir(dir).filter(_.getFileName.toString.startsWith(".")).foreach(deleteTree)
  }

  /** Distributed changelog replay: read every entry executor-side, keep
    * each key's newest row, drop tombstones, land on the store's
    * partitioner. State never touches the driver; the driver reads only
    * each file's format byte, to refuse at start what the codec did not
    * write.
    */
  private[streaming] def restore(sc: SparkContext, dir: Path, partitioner: HashPartitioner): RDD[Part] = {
    val files = changelogEntries(dir).flatMap { case (b, p) =>
      if (Files.isDirectory(p)) listDir(p).filterNot(_.getFileName.toString.startsWith("."))
        .map(f => (b, f.toString))
      else Seq((b, p.toString))
    }
    files.foreach { case (_, f) => requireFormat(Paths.get(f)) }
    sc.parallelize(files, math.max(1, math.min(files.size, partitioner.numPartitions)))
      .flatMap { case (b, f) => readEntries(Paths.get(f)).iterator.map { case (k, st) => (k, (b, st)) } }
      .reduceByKey(partitioner, (x, y) => if (x._1 >= y._1) x else y)
      .mapPartitions { rows =>
        val m = new Part()
        rows.foreach { case (k, (_, st)) => st.foreach(m.put(k, _)) }
        Iterator.single(m)
      }
  }

  /** Write entries (None = deleted) to `dir/name`, staged and renamed
    * atomically; an existing file of that name is replaced.
    */
  private[streaming] def writeEntries(dir: Path, name: String, entries: Seq[(Key, Option[State])]): Unit = {
    val staged = dir.resolve(s".$name.${java.util.UUID.randomUUID()}")
    Files.write(staged, EventBinary.changelog.encode(entries))
    Files.move(staged, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private[streaming] def readEntries(file: Path): Seq[(Key, Option[State])] =
    EventBinary.changelog.decode(Files.readAllBytes(file))

  /** Refuse to start over a changelog file the codec did not write. A
    * Java serialization stream (magic 0xACED) is the format before
    * [[EventBinary]]; it has no migration.
    */
  private def requireFormat(file: Path): Unit = {
    val s = Files.newInputStream(file)
    val head = try s.readNBytes(2) finally s.close()
    if (!head.headOption.contains(EventBinary.ChangelogFormat)) throw new IllegalStateException(
      if (head.sameElements(Array(0xAC, 0xED).map(_.toByte)))
        s"changelog file $file is a Java serialization stream, the format before EventBinary; " +
          "it has no migration: start from an empty checkpointDir"
      else s"changelog file $file is not in the EventBinary changelog format")
  }

  private def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteTree)
    Files.deleteIfExists(p): Unit
  }
}
