package graft

import org.apache.spark.sql.functions._

/** Hot-key caps under skew: a planted
  * Zipf(0.99) template distribution (same-template documents
  * byte-identical — the worst-case hot key for every capped banded
  * join at once) must (a) ENGAGE the caps — the head template exceeds
  * the cap, and the post-cap band indexes hold no bucket above it, so
  * per-bucket candidate fan-out is bounded by cap²; (b) BOUND — zero
  * output pairs touch an over-cap template; (c) keep RECALL — sub-cap
  * duplicate templates pair exactly (J = 1 planted dups). The corpus
  * comes from [[graft.bench.SkewSoak.synthSkewDocs]]; this spec pins the
  * invariants in the suite at 3k docs where CappedFixtureSpec's
  * single-hot-block fixtures can't express a full Zipf head.
  */
class SkewStressSpec extends SparkSpec {

  private val N = 3000L
  private val Cap = 20

  private lazy val docs = graft.bench.SkewSoak.synthSkewDocs(spark, N)
    .persist()

  private lazy val byTemplate =
    docs.groupBy("template").agg(count(lit(1)).as("m")).persist()

  private def hotTemplates = byTemplate.filter(col("m") > Cap).select("template")

  private def expectedPairs: Long = byTemplate
    .filter(col("m") <= Cap)
    .agg(sum(expr("(m * (m - 1)) div 2"))).head().getLong(0)

  private def hotPairCount(pairs: org.apache.spark.sql.DataFrame): Long = {
    val tpl = docs.select(col("doc_id"), col("template"))
    pairs.join(tpl.withColumnRenamed("doc_id", "da"), "da")
      .join(hotTemplates, Seq("template"), "left_semi").count() +
      pairs.join(tpl.withColumnRenamed("doc_id", "db"), "db")
        .join(hotTemplates, Seq("template"), "left_semi").count()
  }

  test("zipf fixture engages: head template exceeds the cap") {
    val head = byTemplate.agg(max("m")).head().getLong(0)
    assert(head > Cap, s"head template $head must exceed cap $Cap")
    assert(hotTemplates.count() >= 1)
    assert(expectedPairs > 0, "sub-cap duplicate templates must exist")
  }

  test("dd2 minhash: post-cap buckets bounded, hot pairs zero, sub-cap dups exact") {
    val pre = graft.operators.Dedup.minhashBands(docs, maxBucket = Int.MaxValue)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    val post = graft.operators.Dedup.minhashBands(docs, maxBucket = Cap)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    assert(pre > Cap, s"pre-cap hottest bucket $pre must exceed cap $Cap")
    assert(post <= Cap, s"post-cap hottest bucket $post must be <= cap $Cap")
    val pairs = graft.operators.Dedup.minhashLsh(docs, maxBucket = Cap)
      .persist()
    assert(pairs.count() === expectedPairs)
    assert(hotPairCount(pairs) === 0L)
    // r19: the minhash band family reports occupancy too — the head
    // template floods its 32 band buckets past the cap
    val m = pairs.queryExecution
      .observedMetrics(graft.operators.Dedup.MinhashOccupancyMetric)
    assert(m.getLong(0) > 0L && m.getLong(1) >= 32L,
      s"head template must drop its 32 band buckets, got ${m.getLong(1)}")
    pairs.unpersist(false)
  }

  test("dd3 ngram jaccard: hot pairs zero, sub-cap dups exact") {
    val pairs = graft.operators.Dedup.ngramJaccard(docs, maxDocFreq = Cap)
      .persist()
    assert(pairs.count() === expectedPairs)
    assert(hotPairCount(pairs) === 0L)
    pairs.unpersist(false)
  }

  test("dd4 simhash: hot pairs zero, sub-cap dups all recalled") {
    val pairs = graft.operators.Dedup.simhashPairs(docs, maxBucket = Cap)
      .persist()
    // >= not ==: organic 64-bit near-collisions may legitimately pair
    // cross-template at hamming <= 7
    assert(pairs.count() >= expectedPairs)
    assert(hotPairCount(pairs) === 0L)
    pairs.unpersist(false)
  }

  test("dd4b wide simhash (nBits=256): hot pairs zero, sub-cap dups EXACT, occupancy observed") {
    // the r19 wide-signature knob: 32-bit bands (4.3e9 buckets/band)
    // keep every sub-cap template's buckets uncontaminated, so recall
    // is exact — the property the 64-bit byte bands lose to saturation
    // past ~256·cap docs (the soak's measured mode="saturating")
    val pairs = graft.operators.Dedup
      .simhashPairs(docs, maxBucket = Cap, nBits = 256)
      .persist()
    assert(pairs.count() === expectedPairs)
    assert(hotPairCount(pairs) === 0L)
    val m = pairs.queryExecution
      .observedMetrics(graft.operators.Dedup.HammingOccupancyMetric)
    assert(m.getLong(0) > 0L, "occupancy metrics must ride the cap aggregation")
    assert(m.getLong(1) >= 8L, "the head template must drop its 8 band buckets")
    pairs.unpersist(false)
  }

  test("video frame index: post-cap doc-freq bounded, hot pairs zero, dups exact") {
    val frames = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(7))).as("j"), col("template"))
      .select(col("doc_id"),
        concat(lit("f"), col("template"), lit("_"), col("j")).as("frame_md5"))
    val post = graft.operators.Multimodal
      .videoFrameIndex(frames, frameBytes = 256, targetFrames = 8,
        maxDocFreq = Cap) // synthetic signatures; geometry stated, unused
      .groupBy("s").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    assert(post <= Cap, s"post-cap doc-freq $post must be <= cap $Cap")
    val pairs = graft.operators.Multimodal
      .videoFramePairs(frames, maxDocFreq = Cap).persist()
    assert(pairs.count() === expectedPairs)
    assert(hotPairCount(pairs) === 0L)
    pairs.unpersist(false)
    spark.catalog.clearCache()
  }
}
