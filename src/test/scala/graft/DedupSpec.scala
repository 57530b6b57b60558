package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val docs = Tables.documents(spark, sf).cache()
  lazy val exactJaccard = Dedup.ngramJaccard(docs).cache()

  test("BoundedDocsAgg: under-cap groups are exact sets, over-cap groups saturate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size, udaf}
    // key "hot" has 50 members, "cold" has 5; maxKeep 10 = cap 9 + 1
    val rows = (0L until 50L).map(i => ("hot", i)) ++ (100L until 105L).map(i => ("cold", i))
    val agg = udaf(new graft.functions.BoundedDocsAgg(10))
    val out = rows.toDF("s", "doc_id").repartition(7)
      .groupBy("s").agg(agg(col("doc_id")).as("docs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("hot").size === 10, "saturates at maxKeep, never group-sized")
    assert(out("hot").toSet.subsetOf((0L until 50L).toSet))
    assert(out("cold").toSet === (100L until 105L).toSet,
      "a group that never saturated is the complete exact set")
    val kept = rows.toDF("s", "doc_id").repartition(7)
      .groupBy("s").agg(agg(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= 9)
      .collect().map(_.getString(0))
    assert(kept.toSeq === Seq("cold"), "the > cap key is dropped by the size filter")
  }

  test("ngramJaccard honors thresholds whose reciprocal is not integral") {
    import spark.implicits._
    // doc 1: 6 distinct shingles; doc 2: 7, sharing exactly the first 3
    // -> inter 3, union 10, J = 0.3 exactly. The earlier integer filter
    // (inter * (1/threshold).toLong >= union) evaluated threshold 0.3
    // as J >= 1/3 and silently dropped this pair.
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 x6 x7 x8 x9")).toDF("doc_id", "text")
    val at30 = Dedup.ngramJaccard(docs, threshold = 0.3).collect()
    assert(at30.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(at30.head.getDouble(2) === 0.3)
    // strictly above J the pair must drop
    assert(Dedup.ngramJaccard(docs, threshold = 0.35).count() === 0)
  }

  test("exact dedup groups every doc and keeps min id") {
    val d = Dedup.exact(docs)
    assert(d.count() === docs.count()) // corpus has no exact dups
    assert(d.agg(sum("n_copies")).head().getLong(0) === docs.count())
  }

  test("incrementalNearDup equals the full LSH run restricted to cross-split pairs") {
    // organic buckets never hit the cap at this SF, so the persisted
    // corpus index + batch probe must reproduce exactly the full run's
    // corpus-x-batch slice
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val inc = Dedup.incrementalNearDup(batch, corpus,
      corpusBands = Dedup.minhashBands(corpus))
    val full = Dedup.minhashLsh(docs)
      .filter(col("da") < 400 && col("db") >= 400)
    assert(pairs(inc) === pairs(full))
    // verify stage must carry the same jaccard values
    val ji = inc.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val jf = full.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ji === jf)
  }

  test("minhash band index round-trips through the release dir") {
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val dir = java.nio.file.Files.createTempDirectory("bands").toString
    graft.operators.TrainingPipeline.writeMinhashBands(corpus, dir)
    val loaded = graft.operators.TrainingPipeline.loadMinhashBands(spark, dir)
    val viaLoaded = Dedup.incrementalNearDup(batch, corpus, loaded)
      .orderBy("da", "db").collect().toSeq
    val inline = Dedup.incrementalNearDup(batch, corpus,
        corpusBands = Dedup.minhashBands(corpus))
      .orderBy("da", "db").collect().toSeq
    assert(viaLoaded === inline)
  }

  test("index metadata: parameter mismatch and foreign parquet fail fast") {
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // an index built with bands=16 probed by the default bands=32 probe
    // would silently yield ~zero candidates — the schema stamp turns
    // quiet recall collapse into a hard error
    val narrow = Dedup.minhashBands(corpus, bands = 16, numHashes = 64)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(batch, corpus, narrow)
    }
    assert(e.getMessage.contains("bands"))
    // a random parquet at the index path is not an index artifact
    val dir = java.nio.file.Files.createTempDirectory("bands-foreign")
    val p = dir.resolve("_graft_models").resolve("minhash_bands")
    corpus.select(col("doc_id"), md5(col("text")).as("band_hash"),
        lit(0).as("band"))
      .write.mode("overwrite").parquet(p.toString)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.TrainingPipeline.loadMinhashBands(spark, dir.toString)
    }
    assert(e2.getMessage.contains("minhash_bands"))
    // the stamp itself survives the parquet round-trip (footer schema)
    val okDir = java.nio.file.Files.createTempDirectory("bands-meta").toString
    graft.operators.TrainingPipeline.writeMinhashBands(corpus, okDir)
    val loaded = graft.operators.TrainingPipeline.loadMinhashBands(spark, okDir)
    val md = loaded.schema.fields.find(_.name == "band_hash").get.metadata
    assert(md.getString(Dedup.IndexKindKey) === "minhash_bands")
    assert(md.getLong("graft.numHashes") === 64L &&
      md.getLong("graft.bands") === 32L && md.getLong("graft.maxBucket") === 1000L)
  }

  test("containment: directional, catches the truncation Jaccard misses") {
    import spark.implicits._
    // planted: 9001 = prefix half of 9000's tokens; 9002 unrelated
    val base = "ca cb cc cd ce cf cg ch ci cj ck cl cm cn co cp cq cr cs ct"
    val docsC = Seq(
      (9000L, base),
      (9001L, base.split(" ").take(10).mkString(" ")),
      (9002L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val rows = Dedup.containment(docsC).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the prefix is FULLY contained: C(9001 -> 9000) = 1.0
    assert(rows.get((9001L, 9000L)) === Some(1.0))
    // direction matters: the container is NOT contained in the prefix
    // (C(9000 -> 9001) = 8/18 < 0.8)
    assert(!rows.contains((9000L, 9001L)))
    assert(!rows.keys.exists(k => k._1 == 9002L || k._2 == 9002L))
    // and symmetric Jaccard misses the pair at its own threshold:
    // J = 8/18 = 0.44 < 0.5 — the asymmetry containment exists for
    val j = Dedup.ngramJaccard(docsC).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((9000L, 9001L)) && !j.contains((9001L, 9000L)),
      "planted truncation must be invisible to symmetric Jaccard")
    // mutual containment emits both orientations at C = 1.0
    val twins = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val t = Dedup.containment(twins).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(t === Map((1L, 2L) -> 1.0, (2L, 1L) -> 1.0))
  }

  test("minhash-LSH finds all high-similarity pairs and only true pairs") {
    val lsh = Dedup.minhashLsh(docs)
    val lshPairs = pairs(lsh)
    val exactAll = pairs(exactJaccard)
    val exactHigh = pairs(exactJaccard.filter(col("jaccard") >= 0.6))
    // soundness: every LSH-verified pair is a true >= 0.5 pair
    assert(lshPairs.subsetOf(exactAll))
    // recall: at J >= 0.6 with 32 bands of 2 the collision prob is > 0.9999
    assert(exactHigh.subsetOf(lshPairs))
  }

  test("simhash pairs are deterministic, symmetric-free and within budget") {
    val p1 = Dedup.simhashPairs(docs)
    val rows = p1.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getInt(2) <= 7))
    // stable across runs (as a SET — the API no longer promises order)
    assert(p1.collect().toSet === rows.toSet)
  }

  test("simhash detects a planted near-duplicate") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 59).map(i => s"w$i") :+ "different").mkString(" ")
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val found = pairs(Dedup.simhashPairs(df))
    assert(found.contains((1L, 2L)))
    assert(!found.contains((1L, 3L)))
  }

  test("wide simhash (nBits=128/256): exact dups pair at hamming 0, disjoint docs excluded") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    for (nb <- Seq(128, 256)) {
      val rows = Dedup.simhashPairs(df, nBits = nb).collect()
      val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found.contains((1L, 2L)), s"nBits=$nb missed the exact dup")
      assert(!found.exists(p => p._1 == 3L || p._2 == 3L),
        s"nBits=$nb paired a disjoint doc")
      assert(rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
        .get.getInt(2) == 0, s"nBits=$nb exact dup must be hamming 0")
    }
    intercept[IllegalArgumentException] { Dedup.simhashPairs(df, nBits = 96) }
  }

  test("wide simhash: over-cap template bounded + occupancy metrics observed") {
    import spark.implicits._
    // one 30-copy template (over cap 20) + one 5-copy template (sub-cap)
    // + distinct fillers; identical text = identical signature = the
    // worst-case hot bucket in every band at once
    val hotText = (1 to 50).map(i => s"h$i").mkString(" ")
    val subText = (1 to 50).map(i => s"s${i * 7}").mkString(" ")
    val docs =
      (1 to 30).map(i => (100L + i, hotText)) ++
        (1 to 5).map(i => (200L + i, subText)) ++
        (1 to 40).map(i => (300L + i, (1 to 50).map(j => s"f${i}_$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val res = Dedup.simhashPairs(df, maxBucket = 20, nBits = 128)
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // BOUND: the 30-copy template floods all 8 of its band buckets past
    // the cap — zero pairs may touch it
    assert(!got.exists(p => (p._1 > 100 && p._1 <= 130) || (p._2 > 100 && p._2 <= 130)),
      "over-cap template leaked pairs through the cap")
    // RECALL: the sub-cap template pairs completely (C(5,2) = 10)
    val subPairs = got.filter(p => p._1 > 200 && p._1 <= 205)
    assert(subPairs.size == 10, s"sub-cap template recall: ${subPairs.size} != 10")
    // occupancy metrics ride the hot-key aggregation (one execution —
    // a double-counted self-join side would double n_buckets)
    val m = res.queryExecution.observedMetrics(Dedup.HammingOccupancyMetric)
    val (nBuckets, nDropped) = (m.getLong(0), m.getLong(1))
    assert(nDropped >= 8L, s"hot template must drop its 8 band buckets, got $nDropped")
    // <= one bucket per (doc, band): a doubled metric (self-join side
    // re-executing the observe subtree) would break this ceiling
    assert(nBuckets > 0L && nBuckets <= 8L * docs.size)
  }

  test("bandsLong: hand-computed packing; equals bands() below 31 bits") {
    val bits = Array(1, 0, 1, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 1)
    assert(graft.functions.TextHashing.bandsLong(bits, 8).toSeq === Seq(0xB2L, 0x01L))
    assert(graft.functions.TextHashing.bandsLong(bits, 16).toSeq === Seq(0xB201L))
    val bits32 = Array.tabulate(64)(i => (i * 7 + 3) % 2)
    assert(graft.functions.TextHashing.bands(bits32, 16).map(_.toLong).toSeq ===
      graft.functions.TextHashing.bandsLong(bits32, 16).toSeq)
    // 32-bit bands pack into non-negative longs (the Int form would overflow)
    val high = Array.tabulate(64)(_ => 1)
    assert(graft.functions.TextHashing.bandsLong(high, 32).toSeq ===
      Seq(0xFFFFFFFFL, 0xFFFFFFFFL))
    intercept[IllegalArgumentException] {
      graft.functions.TextHashing.bandsLong(high, 63)
    }
  }

  test("simhashBitsN: 64-bit form equals simhashBits; width changes only add words") {
    val toks = "alpha beta gamma delta epsilon".split(" ")
    val b64 = graft.functions.TextHashing.simhashBits(toks)
    val n64 = graft.functions.TextHashing.simhashBitsN(toks, 64)
    assert(b64.toSeq === n64.toSeq)
    val n128 = graft.functions.TextHashing.simhashBitsN(toks, 128)
    // the first 64 bits of the wide signature ARE the 64-bit signature
    // (same seeds back the shared words)
    assert(n128.take(64).toSeq === b64.toSeq)
    assert(n128.length == 128)
    intercept[IllegalArgumentException] {
      graft.functions.TextHashing.simhashBitsN(toks, 48)
    }
  }

  test("winnowing finds a planted shared fragment, skips disjoint docs") {
    import spark.implicits._
    val fragment = (1 to 12).map(i => s"frag$i").mkString(" ")
    val docA = s"${(1 to 30).map(i => s"a$i").mkString(" ")} $fragment"
    val docB = s"$fragment ${(1 to 30).map(i => s"b$i").mkString(" ")}"
    val docC = (1 to 40).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val found = pairs(Dedup.fragmentOverlap(df))
    assert(found.contains((1L, 2L))) // the 12-token fragment is shared
    assert(!found.contains((1L, 3L)) && !found.contains((2L, 3L)))
  }

  test("document-frequency cap bounds candidates from a ubiquitous shingle") {
    import spark.implicits._
    // 40 docs all opening with the same stop-phrase, each with a unique
    // tail: uncapped, the shared shingles alone make every doc pair a
    // candidate (and a few thousand such docs would make the shuffle
    // quadratic); capped, the hot shingles drop out of the join and only
    // the planted true near-dup pair survives.
    // 12-token stop phrase: winnowing (k=4, w=4) then selects >= 2
    // identical fingerprints from it in EVERY doc (two disjoint windows
    // lie fully inside its 9 grams), so uncapped, all 41*40/2 pairs emerge
    val stop = "it is a truth universally acknowledged that a single man in possession"
    val docs = (1 to 40).map(i =>
      (i.toLong, s"$stop t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"))
    val planted = (41L, s"$stop t1a t1b t1c t1d t1e t1x")
    val df = (docs :+ planted).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccard(df, maxDocFreq = 10)
    assert(pairs(capped) === Set((1L, 41L)))
    // the 10 pure-stop-phrase shingles (df = 41 > cap) are out of the
    // computation: the planted pair keeps 5 of its shared shingles over a
    // 7-shingle union -> J = 5/7
    val row = capped.filter(col("da") === 1L && col("db") === 41L).head()
    assert(math.abs(row.getDouble(2) - 5.0 / 7.0) < 1e-3)
    // fragment overlap: uncapped, the guaranteed-shared stop fingerprints
    // pair up EVERY doc combination (the quadratic blowup); under the cap
    // those df=41 fingerprints drop out and the pair set collapses
    // (dropping fingerprints is monotone — it can only remove pairs)
    val funcapped = pairs(Dedup.fragmentOverlap(df))
    val fcap = pairs(Dedup.fragmentOverlap(df, maxDocFreq = 10))
    assert(funcapped.size === 41 * 40 / 2)
    assert(fcap.subsetOf(funcapped))
    assert(fcap.size < 100)
  }

  test("LSH bucket cap drops mass-dup blocks, keeps ordinary near-dups") {
    import spark.implicits._
    // 30 byte-identical docs: every band bucket holds all 30 -> a 435-pair
    // quadratic block that exact dedup (dd1) already handles; capped LSH
    // skips it. An ordinary near-dup pair elsewhere must still surface.
    val boiler = (1 to 30).map(i => (i.toLong, "copy of the same boilerplate text here"))
    val a = (100L, (1 to 20).map(i => s"u$i").mkString(" "))
    val b = (101L, ((1 to 19).map(i => s"u$i") :+ "tail").mkString(" "))
    val df = (boiler :+ a :+ b).toDF("doc_id", "text")
    val capped = pairs(Dedup.minhashLsh(df, maxBucket = 5))
    assert(capped === Set((100L, 101L)))
    val uncapped = pairs(Dedup.minhashLsh(df))
    assert(uncapped.size === 30 * 29 / 2 + 1)
  }

  test("embedding near-dup pairs agree with a local computation") {
    val nd = Dedup.embeddingNearDup(Tables.embeddings(spark, sf))
    val rows = nd.collect()
    assert(rows.forall(_.getDouble(2) > 0.45))
  }

  test("bloom-prefiltered incremental dedup finds exactly the planted duplicates") {
    import spark.implicits._
    val corpus = (0 until 300).map(i => (i.toLong, s"corpus doc $i unique words"))
      .toDF("doc_id", "text")
    val planted = Seq(5L, 17L, 123L)
    val fresh = ((1000 until 1400).map(i => (i.toLong, s"new doc $i other words")) ++
      planted.map(i => (2000L + i, s"corpus doc $i unique words")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomPrefilterDedup(corpus, fresh).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq === planted.map(_ + 2000L))
    // result is exact despite the probabilistic prefilter: every hit's
    // text genuinely exists in the corpus (semi-join confirmed)
    assert(out.length === planted.size)
  }

  test("duplicateClusters: transitive closure over a pair chain, min-id labels") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11: components {1,2,3}, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L))))
  }

  test("duplicateClusters: a longer chain still converges to one component") {
    import spark.implicits._
    // 8-node path: worst-case diameter for the propagation loop —
    // forced onto the distributed path (the default would take the
    // small-graph fast path and skip the loop under test)
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("da", "db")
    val out = Dedup.duplicateClusters(pairs, smallGraphMaxEdges = 0L).collect()
    assert(out.length === 8)
    assert(out.forall(_.getLong(1) === 1L), "all nodes must take the min label")
    assert(out.forall(_.getLong(2) === 8L))
  }

  test("duplicateClusters small-graph fast path matches the distributed loop") {
    import spark.implicits._
    // chains + a triangle + an isolated pair + a self-loop: every
    // structural case, compared label-for-label across the two paths
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (20L, 20L)) ++
      (30L to 36L).map(i => (i + 1, i))).toDF("da", "db")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fast = asMap(Dedup.duplicateClusters(pairs))
    val loop = asMap(Dedup.duplicateClusters(pairs, smallGraphMaxEdges = 0L))
    assert(fast === loop)
    assert(fast(20L) === ((20L, 1L)), "self-loop node is its own singleton cluster")
    assert(fast(36L) === ((30L, 8L)), "reversed chain takes the min label")
  }

  test("duplicateClusters fast path runs no iterative checkpoint actions") {
    import spark.implicits._
    // the strategy choice is the point: under the edge cap the CC must
    // collapse to count + collect — no per-round checkpoint jobs
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("da", "db")
    val resultStages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.nonEmpty)
          resultStages.add(js.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Dedup.duplicateClusters(pairs)
      var last = -1
      var spins = 0
      while (last != resultStages.size && spins < 50) {
        last = resultStages.size; Thread.sleep(100); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val names = resultStages.asScala.toSeq
      assert(names.count(_.startsWith("localCheckpoint at")) === 0,
        s"fast path must not run loop checkpoints, saw $names")
    } finally sc.removeSparkListener(listener)
  }

  test("duplicateClusters runs ONE action per round — convergence is folded in") {
    import spark.implicits._
    // 9-node chain: with neighbor propagation alone the min label
    // travels one hop per round (init + 9 rounds: 8 change + the zero
    // round); with the min-neighbor INIT (which folds the identity
    // round in) and the pointer jump (distance roughly doubles per
    // round) the same chain converges in 4 loop rounds — label states
    // (nodes 1..9):
    //   init: 1 1 2 3 4 5 6 7 8  (min(id, min neighbor), no join)
    //   r1:   1 1 1 2 3 4 5 6 7  (k>=3 takes k-2 via jump)
    //   r2:   1 1 1 1 1 2 3 4 5  (jump through r1's labels)
    //   r3:   1 1 1 1 1 1 1 1 1  (every remaining node jumps to 1)
    //   r4: zero changes -> converged.
    // With AQE off, every eager checkpoint is exactly one ACTION job
    // (result stage named "localCheckpoint at ..."), so those must
    // number 1 (initial labels) + 4 (rounds) — and there must be NO
    // "count at" job at all: the old shape paid a separate
    // convergence-probe count per round. (Broadcast-exchange build
    // jobs for the propagation join are materializations inside the
    // round's single action, not extra actions — at scale the join is
    // sort-merge and they disappear; they are excluded by result-stage
    // name here.)
    val n = 9
    val expectedRounds = 4 // derived above; linear propagation needs 9
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("da", "db")
    val resultStages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.nonEmpty)
          resultStages.add(js.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(listener)
    try {
      Dedup.duplicateClusters(chain, smallGraphMaxEdges = 0L)
      // the listener bus posts asynchronously — poll until quiet
      var last = -1
      var spins = 0
      while (last != resultStages.size && spins < 50) {
        last = resultStages.size; Thread.sleep(100); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val names = resultStages.asScala.toSeq
      val checkpoints = names.count(_.startsWith("localCheckpoint at"))
      val probes = names.count(_.startsWith("count at"))
      assert(checkpoints === expectedRounds + 1,
        s"expected ${expectedRounds + 1} checkpoint actions (1 init + " +
          s"$expectedRounds rounds; pointer jumping must beat the $n linear rounds), " +
          s"saw $checkpoints in $names")
      assert(probes === 0,
        s"convergence must not run a separate count job, saw $probes in $names")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("duplicateClusters with a reliable checkpoint dir matches localCheckpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dd8ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val out = Dedup.duplicateClusters(pairs, checkpointDir = Some(dir),
        smallGraphMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L))))
  }

  test("paragraphDedup drops over-cap boilerplate, keeps rare repeats, preserves order") {
    import spark.implicits._
    val boiler = "subscribe to the newsletter"
    // 10 docs all carrying the boilerplate middle paragraph; two also
    // share a rare paragraph (df = 2, under the cap); unique heads/tails
    val docs = (1 to 10).map { i =>
      val rare = if (i <= 2) "\n\nrare shared paragraph" else ""
      (i.toLong, s"head $i\n\n$boiler$rare\n\ntail $i")
    }.toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, maxDocFreq = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size === 10)
    // boilerplate (df=10 > 5) removed everywhere; rare (df=2) kept
    assert(out(1L) === (("head 1\n\nrare shared paragraph\n\ntail 1", 4L, 1L)))
    assert(out(3L) === (("head 3\n\ntail 3", 3L, 1L)))
    // a doc that is ALL boilerplate surfaces with empty clean_text
    val allBoiler = docs.unionByName(
      Seq((99L, s"$boiler\n\n$boiler")).toDF("doc_id", "text"))
    val out99 = Dedup.paragraphDedup(allBoiler, maxDocFreq = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out99(99L) === (("", 2L, 2L)))
  }

  test("paragraphDedup: whitespace-only and empty paragraphs never count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one\n\n   \n\ntwo"), // middle paragraph is whitespace-only
      (2L, "\n\nsolo\n\n")       // leading/trailing empties
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, maxDocFreq = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("one\n\ntwo", 2L, 0L)))
    assert(out(2L) === (("solo", 1L, 0L)))
  }

  test("bloom prefilter prunes: candidate count is fpp-bounded, no false negatives") {
    import spark.implicits._
    val corpus = (0 until 1000).map(i => (i.toLong, s"member $i")).toDF("doc_id", "text")
    val bf = corpus.select(org.apache.spark.sql.functions.xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", 1000L, 0.01)
    val bytes = graft.functions.BloomMightContain.serialize(bf)
    val absent = (0 until 2000).map(i => (i.toLong, s"absent $i")).toDF("doc_id", "text")
    val fp = absent.filter(graft.functions.GraftFunctions.bloom_might_contain(
      lit(bytes), org.apache.spark.sql.functions.xxhash64(col("text")))).count()
    // 1% nominal fpp; allow generous slack for sketch variance
    assert(fp <= 100, s"false-positive count $fp way above the 1% design point")
    val present = corpus.filter(graft.functions.GraftFunctions.bloom_might_contain(
      lit(bytes), org.apache.spark.sql.functions.xxhash64(col("text")))).count()
    assert(present === 1000L, "a bloom filter must never drop a member")
  }

  test("bloom_might_contain compiles to a direct sketch call, not an eval fallback") {
    val bf = spark.range(100).selectExpr("xxhash64(cast(id as string)) h")
      .stat.bloomFilter("h", 100L, 0.01)
    val bytes = graft.functions.BloomMightContain.serialize(bf)
    val df = spark.range(10).selectExpr("cast(id as string) s")
      .select(graft.functions.GraftFunctions.bloom_might_contain(
        lit(bytes), xxhash64(col("s"))).as("hit"))
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains(".mightContainLong("), gen)
    assert(!gen.contains("BloomMightContain.nullSafeEval"), gen)
    assert(df.collect().forall(_.getBoolean(0)), "every member must probe true")
  }

  test("bloom probe with a NULL sketch literal yields NULL, not a planning NPE") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("v")
      .select(graft.functions.GraftFunctions.bloom_might_contain(
        lit(null).cast("binary"), col("v")).as("r"))
    // both the codegen and interpreted paths must agree: null in -> null out
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("canonicalUrl: every normalization rule engages; non-tracking params survive sorted") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://WWW.Example.COM:443/A/B/?b=2&utm_source=x&a=1#frag",
        "https://example.com/A/B?a=1&b=2"),
      ("http://example.com:80/page", "http://example.com/page"),
      ("https://example.com/page/", "https://example.com/page"),
      ("https://example.com/page?utm_campaign=c&fbclid=f&gclid=g",
        "https://example.com/page"),
      // path case is preserved (path semantics are server-defined)
      ("https://Example.com/CaseSensitive", "https://example.com/CaseSensitive"),
      ("https://example.com/", "https://example.com"))
    val out = cases.map(_._1).toDF("url")
      .select(Dedup.canonicalUrl(col("url")).as("c")).as[String].collect()
    out.zip(cases).foreach { case (got, (in, want)) =>
      assert(got === want, s"canonicalUrl($in)")
    }
  }

  test("urlDedup: variants collapse to one canonical row with min-id representative") {
    import spark.implicits._
    val df = Seq(
      (10L, "https://www.example.com/p?utm_source=a"),
      (3L, "HTTPS://example.com/p/"),
      (7L, "https://example.com/p"),
      (5L, "https://other.com/q")).toDF("doc_id", "url")
    val out = Dedup.urlDedup(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("https://example.com/p") === ((3L, 3L, 3L)),
      "3 raw spellings, 3 distinct variants, min id 3")
    assert(out("https://other.com/q") === ((1L, 1L, 5L)))
  }

  test("repeatedSpans: recovers planted runs, merges adjacent islands, 1-based bounds") {
    import spark.implicits._
    // ua/ub: a 10-token shared run embedded at different offsets;
    // uc: unrelated filler; ud/ue: two runs separated by ONE unique
    // token in ud — the k-grams crossing the unique token are df=1, so
    // the islands must NOT merge (gap > 1)
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val run2 = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"a1 a2 a3 $run a4 a5"),
      (2L, s"b1 $run b2 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
      (4L, s"$run gapx $run2"),
      (5L, s"$run gapy $run2")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, k = 8, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc1: run at tokens 4..13; doc2: run at 2..11
    assert(spans.contains((1L, 4L, 13L, 10L)), spans)
    assert(spans.contains((2L, 2L, 11L, 10L)), spans)
    // docs 4/5: both runs duplicated but separated by a unique token —
    // two DISTINCT spans each (run at 1..10, run2 at 12..19)
    assert(spans.contains((4L, 1L, 10L, 10L)), spans)
    assert(spans.contains((4L, 12L, 19L, 8L)), spans)
    assert(spans.contains((5L, 1L, 10L, 10L)), spans)
    assert(spans.contains((5L, 12L, 19L, 8L)), spans)
    assert(!spans.exists(_._1 == 3L), "unique doc has no spans")
  }

  test("repeatedSpans: a run shared verbatim INCLUDING the junction merges into one span") {
    import spark.implicits._
    // the full 19-token junction run appears in both docs, so the
    // crossing 8-grams are df=2 and the two halves merge into ONE span
    val joint = "j1 j2 j3 j4 j5 j6 j7 j8 j9 j10 j11 j12 j13 j14 j15 j16 j17 j18 j19"
    val df = Seq(
      (1L, s"x1 x2 $joint x3"),
      (2L, s"y1 $joint y2 y3")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, k = 8, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans === Set((1L, 3L, 21L, 19L), (2L, 2L, 20L, 19L)), spans)
  }

  test("spanDupFraction: full-dup docs drop, partial dups keep, span-free zero") {
    import spark.implicits._
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val df = Seq(
      (1L, run),                                   // 100% duplicated -> drop
      (2L, run),                                   // its twin -> drop
      (3L, s"$run f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12 f13 f14 f15 " +
        "f16 f17 f18 f19 f20 f21 f22 f23 f24 f25"), // 10/35 = 0.2857 -> keep
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("doc_id", "text")
    val out = Dedup.spanDupFraction(df, k = 8, minDf = 2, maxDupFrac = 0.3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((10L, 10L, 1.0, true)))
    assert(out(2L) === ((10L, 10L, 1.0, true)))
    assert(out(3L) === ((35L, 10L, 0.2857, false)))
    assert(out(4L) === ((9L, 0L, 0.0, false)), "span-free doc keeps with zero")
  }

  test("spanDupFraction: overlapping spans count union coverage, frac capped at 1.0") {
    import spark.implicits._
    // doc1's duplicated starts are 1 (w1..w8, shared with doc2) and 3
    // (w3..w10, shared with doc3); the bridging gram at start 2 is
    // df=1, so islands stay separate with start-gap 2 in [2, k-1] and
    // spans [1,8] / [3,10] OVERLAP on [3,8]. dup_tokens must be the
    // union (10), not the sum of span lengths (16): frac 1.0, not 1.6.
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, k = 8, minDf = 2)
      .filter($"doc_id" === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 8L), (3L, 10L)), "two overlapping spans expected")
    val out = Dedup.spanDupFraction(df, k = 8, minDf = 2, maxDupFrac = 0.3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((10L, 10L, 1.0, true)), s"union coverage, got ${out(1L)}")
    assert(out(2L) === ((8L, 8L, 1.0, true)))
    assert(out(3L) === ((8L, 8L, 1.0, true)))
  }

  test("consensusNearDup: both signals required; missing embeddings drop out") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 1.0), (3L, 4L, 0.9), (5L, 6L, 0.8)).toDF("da", "db", "jaccard")
    val e = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.8, 0.6)),   // cos 0.8 -> consensus
      (3L, Array(1.0, 0.0)), (4L, Array(0.0, 1.0)))   // cos 0   -> lexical-only
      .toDF("vec_id", "embedding")                     // 5/6: no embeddings
    val out = Dedup.consensusNearDup(pairs, e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 2L, 1.0, 0.8)))
  }

  test("canonicalize: longest member kept, id tiebreak, per-cluster row") {
    import spark.implicits._
    val clusters = Seq(
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L)).toDF("doc_id", "cluster", "cluster_size")
    val docs = Seq(
      (10L, "a b c"), (11L, "a b c d e"), (12L, "a b"),
      (20L, "x y z"), (21L, "x y w")).toDF("doc_id", "text")
    val out = Dedup.canonicalize(clusters, docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(10L) === ((11L, 5L, 2L)), "longest member wins")
    assert(out(20L) === ((20L, 3L, 1L)), "equal length -> min id wins")
  }

  test("minhashCalibration: identical docs land in bin 10 at est=true=1") {
    import spark.implicits._
    val text = (0 until 30).map(i => s"mc$i").mkString(" ")
    val other = (100 until 130).map(i => s"mz$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs).collect()
    assert(out.length === 1) // only the identical pair is a candidate
    val r = out(0)
    assert(r.getAs[Int]("bin") === 10)
    assert(r.getAs[Long]("n_pairs") === 1L)
    assert(r.getAs[Double]("est_jaccard") === 1.0)
    assert(r.getAs[Double]("true_jaccard") === 1.0)
  }

  test("minhashCalibration: card is repartition-stable on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val a = Dedup.minhashCalibration(docs).orderBy("bin").collect().map(_.toSeq)
    val b = Dedup.minhashCalibration(docs.repartition(7)).orderBy("bin")
      .collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }

  test("templateSpam: digit-run shapes group, verdict at minGroup") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Invoice 12 total 5"),     // same shape: digit runs + case fold
      (2L, "invoice 9999 total 410"),
      (3L, "invoice 0 TOTAL 77"),
      (4L, "invoice 12 amount 5"),    // different word -> different shape
      (5L, "plain text no digits"))
      .toDF("doc_id", "text")
    val out = Dedup.templateSpam(docs, minGroup = 3)
      .select("doc_id", "group_size", "is_template")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 3L, true), (2L, 3L, true), (3L, 3L, true),
      (4L, 1L, false), (5L, 1L, false)))
  }
}
