package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.TextHashing

/** Benchmark decontamination: flag training documents that share word
  * n-grams with a held-out evaluation set — the standard hygiene pass of
  * an LLM training-data pipeline (eval answers leaking into the corpus
  * inflate benchmark scores). The reference system has no analog; this
  * is part of the engine's declared training-pipeline surface
  * (SURVEY.md §2.b north-star slots).
  *
  * Scale design — the eval side is GUARDED, not assumed small: every
  * entry point routes through [[evalSide]], which counts the distinct
  * eval shingle set first.
  *   - Under [[MaxCollectedEvalShingles]] (the normal case: real
  *     benchmark eval suites are orders of magnitude smaller than the
  *     training corpus) the set is collected and broadcast, and the
  *     corpus side runs as ONE narrow typed pass — tokenize, slide,
  *     membership-test — no explode, no shuffle.
  *   - Over the cap (a fat eval suite, or a mis-pointed `evalDocs`
  *     argument) the driver NEVER materializes the set. Instead a
  *     Bloom sketch of the eval shingle hashes is built distributed
  *     (`stat.bloomFilter`, a treeAggregate — bounded bytes regardless
  *     of eval cardinality) and broadcast; the corpus is prefiltered by
  *     the sketch in the same narrow typed pass (no false negatives, so
  *     non-candidates are definitively clean), and only the surviving
  *     candidates — dup fraction + fpp stragglers — pay the exact
  *     shingle-explode confirm join against the distinct eval shingle
  *     frame. The full corpus is never exploded and never shuffled by
  *     shingle; the confirm exchange carries candidate rows only.
  *
  * Both paths produce the identical result (parity spec-pinned on
  * planted + organic data); the cap is purely a physical-strategy
  * switch, the same way Spark itself picks broadcast vs shuffle joins.
  */
object Decontamination {

  /** Driver-collect cap on the distinct eval shingle count. Under it,
    * the set is collected and broadcast (~40 B/shingle -> low hundreds
    * of MB worst case, inside driver/executor headroom); over it, the
    * sketch fallback engages. Callers can tighten or (deliberately)
    * raise it per call.
    */
  val MaxCollectedEvalShingles: Long = 2L * 1000 * 1000

  /** Sketch fpp for the over-cap fallback — same operating point as
    * [[Dedup.bloomPrefilterDedup]]: ~1% of clean docs become confirm
    * candidates, everything else never reaches the join.
    */
  private val SketchFpp: Double = 0.01

  /** Distinct `k`-gram shingles per doc, as a (doc_id, s) table. */
  private def shingleTable(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Dedup.spread(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        TextHashing.shingles(TextHashing.tokens(text), k).map(s => (id, s))
      }
      .toDF("doc_id", "s")
  }

  /** Prepared decontamination target: the guarded eval side built ONCE
    * and reusable across calls — batch loops and streaming micro-batches
    * pass it back in so the eval corpus is not re-counted/re-collected
    * (or re-sketched) per invocation. Opaque outside the operators
    * package; obtain via [[prepareEval]].
    */
  final class PreparedEval private[operators] (
      private[operators] val side:
        Either[Broadcast[Set[String]], (DataFrame, Broadcast[BloomFilter])],
      val gramSize: Int)

  /** Build the guarded eval side once (see [[evalSide]] for the two
    * physical strategies). Reuse the returned handle across refresh
    * batches / streaming micro-batches; rebuild when the eval corpus
    * changes.
    */
  def prepareEval(
      evalDocs: DataFrame,
      textCol: String = "text",
      gramSize: Int = 4,
      maxCollectedShingles: Long = MaxCollectedEvalShingles): PreparedEval =
    new PreparedEval(
      evalSide(evalDocs, textCol, gramSize, maxCollectedShingles), gramSize)

  /** The guarded eval side: count the distinct eval shingles, then
    * either collect them (Left: the broadcast-set narrow path) or keep
    * them distributed behind a Bloom sketch of their [[TextHashing
    * .poly63]] hashes (Right: frame + sketch, for the exact confirm
    * join + narrow prefilter). The sketch hash is OURS on both the
    * insert and probe side — no dependence on engine-internal string
    * hashing — and the confirm is exact on strings, so sketch quality
    * only affects candidate count, never results.
    */
  private def evalSide(
      evalDocs: DataFrame,
      textCol: String,
      k: Int,
      maxCollected: Long):
      Either[Broadcast[Set[String]], (DataFrame, Broadcast[BloomFilter])] = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    val shingled = evalDocs.select(col(textCol)).as[String]
      .flatMap(t => TextHashing.shingles(TextHashing.tokens(t), k))
    // ONE bounded-set aggregation job decides the guard AND delivers
    // the under-cap set (the hot path): map-side partials dedup per
    // partition, the buffer saturates at cap + 1, and a result under
    // cap + 1 is provably the complete distinct set ([[graft.functions
    // .BoundedSetAgg]]'s exactness contract). The former
    // distinct + persist + count + collect staging cost three job
    // rounds of pure constants on dimension-sized eval corpora
    // (~0.4 s of rf1's cold path at sf0.1).
    val capKeep = (math.min(maxCollected, Int.MaxValue - 1L) + 1L).toInt
    val bounded = shingled
      .select(org.apache.spark.sql.functions
        .udaf(new graft.functions.BoundedSetAgg(capKeep)).apply(col("value")))
      .as[Array[String]].head()
    if (bounded.length <= maxCollected) {
      Left(spark.sparkContext.broadcast(bounded.toSet))
    } else {
      // over-cap fallback (rare, corpus-sized eval): distributed
      // distinct frame + Bloom sketch, exactly as before
      val evalSh = shingled.toDF("s").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = evalSh.count()
      val hashes = evalSh.as[String].map(TextHashing.poly63).toDF("h")
      val bf = hashes.stat.bloomFilter("h", math.max(n, 1L), SketchFpp)
      Right((evalSh, spark.sparkContext.broadcast(bf)))
    }
  }

  /** Narrow candidate prefilter for the sketch path: training docs with
    * at least one shingle the sketch might contain. No false negatives:
    * every genuinely contaminated doc survives; ~fpp of clean docs ride
    * along and are cleared by the exact confirm.
    */
  private def sketchCandidates(
      train: DataFrame,
      bfB: Broadcast[BloomFilter],
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.Dataset[(Long, String)] = {
    val spark = train.sparkSession
    import spark.implicits._
    Dedup.spread(train.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .filter { case (_, text) =>
        TextHashing.shingles(TextHashing.tokens(text), k)
          .exists(s => bfB.value.mightContainLong(TextHashing.poly63(s)))
      }
  }

  /** Deployment form: explicit (small) eval corpus vs the training
    * corpus. Per contaminated training doc: overlapping distinct grams,
    * total distinct grams, and the ratio.
    *
    * Under the collect cap this is ONE narrow corpus pass with zero
    * joins: per doc, the distinct shingle array is counted against the
    * broadcast set in place (docs with no hit are dropped before any
    * aggregation exists to pay for). Only the over-cap fallback pays
    * the explode + counting join, and only candidate docs reach it.
    * Ratio rounding is [[TextHashing.round4]] — the engine's one
    * DuckDB-parity rounding definition.
    */
  def overlapWith(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      maxCollectedShingles: Long = MaxCollectedEvalShingles): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val k = gramSize
    evalSide(evalDocs, textCol, k, maxCollectedShingles) match {
      case Left(evalB) =>
        Dedup.spread(train.select(col(idCol).cast("long"), col(textCol)))
          .as[(Long, String)]
          .flatMap { case (id, text) =>
            val sh = TextHashing.shingles(TextHashing.tokens(text), k)
            var hits = 0
            var i = 0
            while (i < sh.length) {
              if (evalB.value.contains(sh(i))) hits += 1
              i += 1
            }
            if (hits == 0) Iterator.empty
            else Iterator((id, hits.toLong, sh.length.toLong,
              TextHashing.round4(hits.toDouble / sh.length)))
          }
          .toDF("doc_id", "n_hits", "n_shingles", "overlap_ratio")
      case Right((evalSh, bfB)) =>
        val cand = sketchCandidates(train, bfB, idCol, textCol, k)
        // only candidates pay the explode; persist because the shingle
        // frame feeds the hit join AND the per-doc size aggregation
        val candSh = cand.flatMap { case (id, text) =>
            TextHashing.shingles(TextHashing.tokens(text), k).map(s => (id, s))
          }
          .toDF("doc_id", "s")
          .persist(StorageLevel.MEMORY_AND_DISK)
        finish(candSh, evalSh, hintBroadcast = false)
    }
  }

  /** Oracle-checkable single-table form: the eval split is selected by
    * a deterministic hash of the id (`mix32(doc_id) % evalMod == 0`),
    * so split + overlap replay exactly in the SQL mirror. One corpus
    * scan feeds both sides. This is the oracle DEMO of the counting
    * join (its 1/evalMod "eval" side grows with the corpus, so the
    * broadcast is justified by the demo's fixed scale, not the
    * deployment contract — use [[overlapWith]] in a real pipeline).
    */
  def overlap(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      evalMod: Long = 19,
      gramSize: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val k = gramSize
    val isEval = pmod(IvfSearch.mix32(col(idCol)), lit(evalMod)) === 0
    val sh = Dedup.spread(documents
      .select(col(idCol).cast("long"), col(textCol), isEval.as("is_eval")))
      .as[(Long, String, Boolean)]
      .flatMap { case (id, text, ev) =>
        TextHashing.shingles(TextHashing.tokens(text), k).map(s => (id, s, ev))
      }
      .toDF("doc_id", "s", "is_eval")
      .persist(StorageLevel.MEMORY_AND_DISK)
    finish(sh.filter(!col("is_eval")),
      sh.filter(col("is_eval")).select("s").distinct(), hintBroadcast = true)
  }

  /** Contaminated-id form: just the training doc_ids sharing at least
    * one `gramSize`-gram with the eval corpus — the decision the
    * cleaning pipeline actually consumes (drop the doc), without
    * [[overlapWith]]'s per-doc ratio bookkeeping. Short-circuits on the
    * first hit per document, so it is strictly cheaper whenever only
    * the drop decision is needed.
    *
    * Guarded like every entry point (see object scaladoc): broadcast
    * set + narrow first-hit pass under the cap; sketch prefilter +
    * candidate-only exact confirm over it.
    */
  def contaminatedIds(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      maxCollectedShingles: Long = MaxCollectedEvalShingles): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val k = gramSize
    evalSide(evalDocs, textCol, k, maxCollectedShingles) match {
      case Left(evalB) =>
        Dedup.spread(train.select(col(idCol).cast("long"), col(textCol)))
          .as[(Long, String)]
          .filter { case (_, text) =>
            TextHashing.shingles(TextHashing.tokens(text), k).exists(evalB.value)
          }
          .map(_._1)
          .toDF(idCol)
      case Right((evalSh, bfB)) =>
        val candSh = sketchCandidates(train, bfB, idCol, textCol, k)
          .flatMap { case (id, text) =>
            TextHashing.shingles(TextHashing.tokens(text), k).map(s => (id, s))
          }
          .toDF("doc_id", "s")
        candSh.join(evalSh, Seq("s"), "left_semi")
          .select(col("doc_id").as(idCol)).distinct()
    }
  }

  /** Keep-side form: the training docs that SURVIVE decontamination,
    * with id + text preserved — the stage shape a composed pipeline
    * consumes ([[TrainingPipeline]] stage 4). Same guarded eval side:
    * under the cap one narrow no-hit filter; over it, the no-hit mass
    * passes narrowly (sketch has no false negatives) and only
    * candidates pay the exact confirm, rejoining via an anti-join that
    * is bounded by the candidate count, never the corpus.
    */
  def decontaminate(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      maxCollectedShingles: Long = MaxCollectedEvalShingles): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    keepFilter(
      Dedup.spread(train.select(col(idCol).cast("long"), col(textCol)))
        .as[(Long, String)],
      evalDocs, idCol, textCol, gramSize, maxCollectedShingles)
  }

  /** [[decontaminate]]'s core over an already-shaped (id, text) typed
    * dataset, WITHOUT the [[Dedup.spread]] fan-out — for pipeline
    * stages whose input already descends from a spread source (spread's
    * partition-count probe plans its input, which under AQE eagerly
    * materializes any shuffle stages the frame contains — wrong for a
    * mid-pipeline frame full of joins).
    */
  private[operators] def keepFilter(
      base: org.apache.spark.sql.Dataset[(Long, String)],
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      gramSize: Int,
      maxCollectedShingles: Long): DataFrame =
    keepFilterSide(base,
      evalSide(evalDocs, textCol, gramSize, maxCollectedShingles),
      gramSize, idCol, textCol)

  private[operators] def keepFilterSide(
      base: org.apache.spark.sql.Dataset[(Long, String)],
      side: Either[Broadcast[Set[String]], (DataFrame, Broadcast[BloomFilter])],
      gramSize: Int,
      idCol: String,
      textCol: String): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val k = gramSize
    side match {
      case Left(evalB) =>
        base
          .filter { case (_, text) =>
            !TextHashing.shingles(TextHashing.tokens(text), k).exists(evalB.value)
          }
          .toDF(idCol, textCol)
      case Right((evalSh, bfB)) =>
        def mightHit(text: String): Boolean =
          TextHashing.shingles(TextHashing.tokens(text), k)
            .exists(s => bfB.value.mightContainLong(TextHashing.poly63(s)))
        // no sketch hit -> definitively clean (no false negatives),
        // passes through narrowly without ever touching a join
        val clean = base.filter { case (_, text) => !mightHit(text) }
          .toDF(idCol, textCol)
        val cand = base.filter { case (_, text) => mightHit(text) }
          .toDF(idCol, textCol)
        val candSh = cand.as[(Long, String)].flatMap { case (id, text) =>
            TextHashing.shingles(TextHashing.tokens(text), k).map(s => (id, s))
          }
          .toDF("doc_id", "s")
        val confirmed = candSh.join(evalSh, Seq("s"), "left_semi")
          .select(col("doc_id").as(idCol)).distinct()
        clean.union(cand.join(confirmed, Seq(idCol), "left_anti"))
    }
  }

  /** The reverse report: per EVAL document, how badly it leaked into
    * the training corpus — distinct leaked grams, distinct train docs
    * carrying them, total grams, leak ratio. [[overlapWith]] answers
    * "which training docs must I drop"; this answers "which benchmark
    * items are compromised" (the score-inflation audit a leaked eval
    * set needs). Only eval docs with at least one leak appear.
    *
    * Scale shape: the eval shingle table is counted first; under
    * `maxBroadcastShingleRows` it BROADCASTS into the hit join (the
    * normal case) and the corpus side is one narrow shingle explode,
    * never shuffled by shingle. Over the cap the hint is simply
    * omitted — the join degrades to a keyed shuffle, the honest cost
    * of auditing a corpus-scale "eval" set, instead of an executor
    * OOM from force-broadcasting it.
    */
  def evalLeakReport(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      maxBroadcastShingleRows: Long = MaxCollectedEvalShingles): DataFrame = {
    val trainSh = shingleTable(train, idCol, textCol, gramSize)
    // persist: feeds the count guard, the per-eval-doc sizes AND the
    // hit join
    val evalSh = shingleTable(evalDocs, idCol, textCol, gramSize)
      .withColumnRenamed("doc_id", "eval_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val small = evalSh.count() <= maxBroadcastShingleRows
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val sizes = evalSh.groupBy("eval_id").agg(count(lit(1)).as("n_grams"))
    trainSh.join(hinted(evalSh), "s")
      .groupBy("eval_id").agg(
        countDistinct(col("s")).as("n_leaked_grams"),
        countDistinct(col("doc_id")).as("n_train_docs"))
      .join(hinted(sizes), "eval_id")
      .select(col("eval_id"), col("n_leaked_grams"), col("n_train_docs"),
        col("n_grams"),
        round(col("n_leaked_grams").cast("double") / col("n_grams"), 4)
          .as("leak_ratio"))
  }

  private def finish(
      trainSh: DataFrame, evalSh: DataFrame, hintBroadcast: Boolean): DataFrame = {
    val evalSide = if (hintBroadcast) broadcast(evalSh) else evalSh
    val hits = trainSh.join(evalSide, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val sizes = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    hits.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits").cast("double") / col("n_shingles"), 4).as("overlap_ratio"))
  }

  /** SEMANTIC decontamination: flag corpus items whose embedding is
    * near an eval-set embedding — the paraphrase-leak complement to the
    * lexical shingle overlap above (a reworded eval answer shares no
    * n-grams but sits next to the original in embedding space; running
    * both screens is standard hygiene in public pipeline writeups).
    *
    * For each corpus vector with max cosine similarity over the eval
    * side above `threshold`, emits (id, eval_id, sim): the best-matching
    * eval item (ties on the exact unrounded similarity broken toward the
    * lower eval id) and the similarity rounded at 4 dp. Unflagged items
    * are absent — the output is the drop list a `LEFT ANTI` join
    * consumes, like [[contaminatedIds]].
    *
    * Scale shape: the eval side is dimension-sized by construction
    * (benchmarks are thousands of rows, the corpus is billions), so it
    * broadcasts and the corpus streams through ONE narrow
    * BroadcastNestedLoopJoin pass; the per-item argmax is a corpus-keyed
    * `max(struct(sim, -eval_id))` whose partial aggregation collapses
    * each item's |eval| candidate rows map-side (the join emits them
    * co-partitioned), so the exchange carries one row per flagged item.
    * The exact-similarity comparisons reuse the fold-order-stable
    * cosine of [[Dedup.embeddingNearDup]].
    *
    * `threshold` assumes unit-normalized (or at least comparable-norm)
    * embeddings, where cosine is the standard semantic-overlap proxy.
    * The default 0.75 is the conservative end of the 0.7–0.8 band
    * SemDeDup-style pipelines use for paraphrase-level matches; since
    * the output feeds a LEFT ANTI drop join, a lower threshold is
    * aggressively lossy — callers lowering it should audit the drop
    * list first (the dc2-style overlap report pattern).
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      threshold: Double = 0.75,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = Dedup.spread(corpus.select(
      col(idCol).cast("long").as("vec_id"), col(vecCol).cast("array<double>").as("x")))
    val ev = eval.select(
      col(idCol).cast("long").as("eid"), col(vecCol).cast("array<double>").as("y"))
    c.crossJoin(broadcast(ev))
      .withColumn("sim", graft.functions.GraftFunctions.cosine_similarity(col("x"), col("y")))
      .filter(col("sim") > threshold)
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("eid")).as("neg_eid"))).as("best"))
      .select(col("vec_id"),
        (-col("best.neg_eid")).cast("long").as("eval_id"),
        graft.functions.GraftFunctions.round4(col("best.sim")).as("sim"))
  }

  /** Defense-in-depth contamination verdict: the lexical shingle
    * screen ([[overlapWith]]) and the embedding-space screen
    * ([[semanticDecontaminate]]) merged into one per-document row —
    * the review table a decontamination sign-off reads. Lexical
    * catches verbatim/near-verbatim leaks; semantic catches
    * paraphrases the shingles miss; a document carrying BOTH signals
    * is a near-certain drop, one signal is a review row. Output per
    * flagged doc: (doc_id, lexical, semantic, overlap_ratio, sim,
    * n_signals), unflagged signal fields 0.
    *
    * Scale shape: both screens keep their own hardened shapes
    * (broadcast/guarded eval sides, one corpus pass each); the merge
    * is a full-outer join of two already-flagged-only frames —
    * contamination-sized, not corpus-sized.
    */
  def combinedVerdict(
      train: DataFrame,
      evalDocs: DataFrame,
      corpusEmb: DataFrame,
      evalEmb: DataFrame,
      ratioThreshold: Double = 0.05,
      simThreshold: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      embIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lex = overlapWith(train, evalDocs, idCol, textCol)
      .filter(col("overlap_ratio") >= ratioThreshold)
      .select(col(idCol).cast("long").as("doc_id"), col("overlap_ratio"))
    val sem = semanticDecontaminate(corpusEmb, evalEmb, simThreshold,
        embIdCol, vecCol)
      .select(col("vec_id").as("doc_id"), col("sim"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("overlap_ratio").isNotNull.as("lexical"),
        col("sim").isNotNull.as("semantic"),
        coalesce(col("overlap_ratio"), lit(0.0)).as("overlap_ratio"),
        coalesce(col("sim"), lit(0.0)).as("sim"))
      .withColumn("n_signals",
        (col("lexical").cast("int") + col("semantic").cast("int")))
  }

  /** Min-K% prob membership screen (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models" — public method): a
    * document whose LOWEST-probability tokens are still likely under
    * the model was probably memorized, so the screen scores each doc
    * by the mean log-prob of its bottom `kPct`% token occurrences
    * (here under the corpus unigram LM — the same Laplace model the
    * txt_ppl family scores with; plug a stronger LM in by swapping the
    * count source). Output per doc: token count, K (the ceil'd
    * occurrence budget), and the Min-K score in bits.
    *
    * The bottom-K selection is occurrence-weighted with a PARTIAL take
    * at the boundary: (doc, word) groups sort by (log-prob asc, word),
    * a running occurrence sum admits `min(k, K - already_taken)` from
    * each group — groups tied at the boundary have EQUAL log-probs, so
    * the partial choice cannot move the sum, and 1-ulp cross-engine
    * `ln` drift cannot reorder distinct counts' log-probs; round-4 on
    * the final mean absorbs the residue (the txt_ppl contract).
    *
    * Scale shape: the txt_ppl chain (collapsed (doc,word) frame, one
    * token-keyed count shuffle, broadcast (N,V) row) plus one
    * doc-keyed window pass — no new shuffle shape, nothing
    * driver-side.
    */
  def minKProb(
      documents: DataFrame,
      kPct: Int = 20,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(kPct > 0 && kPct <= 100, s"invalid kPct=$kPct")
    val tok = documents.select(col(idCol).cast("long").as("doc_id"),
      explode(Dedup.tokens(col(textCol))).as("w"))
    val dtok = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
    val cnt = dtok.groupBy("w").agg(sum(col("k")).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val sc = dtok.join(cnt, "w").crossJoin(broadcast(tot))
      .select(col("doc_id"), col("w"), col("k"),
        log((col("c") + lit(1.0)) / (col("n") + col("v"))).as("lp"))
    // ONE doc-keyed agg does the whole selection: collect the doc's
    // (lp, w, k) groups (bounded by per-doc distinct words — the same
    // doc-length bound the packing/window operators carry), sort, and
    // fold the occurrence budget with a partial take at the boundary.
    // This replaces a sort exchange + two WindowExecs with an in-row
    // array fold (measured at sf0.1: 1.49-1.58 s -> 1.34 s).
    sc.groupBy("doc_id")
      .agg(sum(col("k")).as("nt"),
        array_sort(collect_list(struct(col("lp"), col("w"), col("k"))))
          .as("its"))
      .withColumn("kk", expr(s"(nt * $kPct + 99) div 100"))
      .withColumn("sel", expr(
        """aggregate(its,
          |  named_struct('cum', CAST(0 AS BIGINT), 's', CAST(0 AS DOUBLE)),
          |  (acc, x) -> named_struct(
          |    'cum', acc.cum + x.k,
          |    's', acc.s + CAST(greatest(CAST(0 AS BIGINT),
          |           least(x.k, kk - acc.cum)) AS DOUBLE) * x.lp),
          |  acc -> acc.s)""".stripMargin))
      .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
        col("kk").cast("long").as("k_sel"),
        round(-col("sel") / col("kk") / log(lit(2.0)), 4).as("mink_bits"))
  }

  /** Canary-string leak report — the eval-canary / copyright-shield
    * pass: benchmark suites and licensed sets embed unique GUID-like
    * canary strings, and a training corpus that contains one has
    * ingested the protected text verbatim. One row per canary (ZEROS
    * INCLUDED — "canary X: 0 leaks" is the headline a release card
    * needs): hit count and the smallest leaking doc id (−1 when clean).
    *
    * Scale shape: canaries broadcast (a handful of literals); the hit
    * scan is ONE corpus pass of row-local `contains` per canary (a
    * broadcast nested-loop on a C-row side — the singleton-broadcast
    * pattern, C bounded by the canary registry); the report is
    * C-sized via one canary-keyed rollup + a broadcast left join.
    */
  def canaryScan(
      documents: DataFrame,
      canaries: Seq[(Long, String)]): DataFrame = {
    require(canaries.nonEmpty, "canaryScan: empty canary registry")
    val spark = documents.sparkSession
    import spark.implicits._
    val c = canaries.toDF("canary_id", "pat")
    val hits = documents.join(broadcast(c), col("text").contains(col("pat")))
      .groupBy("canary_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("doc_id")).cast("long").as("min_doc"))
    broadcast(c).join(hits, Seq("canary_id"), "left")
      .select(col("canary_id"), col("pat"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("min_doc"), lit(-1L)).as("min_doc"))
  }

  /** Exact-substring decontamination (Lee et al. 2022 / the GPT-3
    * appendix rule, SPAN-level): the maximal runs of ≥ `k` consecutive
    * tokens a training document shares VERBATIM with any eval
    * document. The n-gram overlap screens ([[overlap]]/[[overlapWith]])
    * rate documents; this one localizes the leak so a pipeline can
    * surgically trim instead of dropping — the cross-corpus twin of
    * [[Dedup.repeatedSpans]], with the duplicated-gram filter replaced
    * by membership in the eval side's gram set.
    *
    * Scale shape: eval positional k-grams dedupe and BROADCAST (the
    * dc-family contract — eval suites are MB-scale against a TB-scale
    * train side); the train side streams one narrow positional-gram
    * pass into a broadcast LEFT-SEMI join (no shuffle of train grams),
    * and only the HIT rows (leak-sized) enter the doc-partitioned
    * gaps-and-islands merge. Output: (doc_id, span_start, span_end,
    * n_tokens), 1-based inclusive token positions.
    */
  /** FUZZY decontamination: train documents that are NEAR-duplicates
    * (MinHash-verified Jaccard ≥ 0.5) of any eval document — the
    * lexical layer between [[overlapWith]]'s exact 13-gram rule (which
    * light paraphrase or shuffled sentence order evades) and
    * [[semanticContaminated]]'s embedding similarity (which carries no
    * lexical evidence a reviewer can point at). GPT-3's appendix-C
    * decontamination used exactly this family (13-gram overlap backed
    * by fuzzy dedup of eval lookalikes).
    *
    * Pure composition of the shared incremental near-dup machinery
    * with the EVAL side as the frozen band index
    * ([[Dedup.minhashBands]] + [[Dedup.incrementalNearDup]]): eval
    * suites are MB-scale so the index is tiny, and the TB-scale train
    * side pays ONE signature pass + the banded equi-join probe — the
    * dd15 steady-state contract, decontamination edition. Output:
    * (eval_id, train_id, jaccard), one row per contaminated pair.
    */
  def fuzzyContaminated(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Dedup.incrementalNearDup(train, evalDocs,
        corpusBands = Dedup.minhashBands(evalDocs, idCol, textCol),
        idCol = idCol, textCol = textCol)
      .select(col("da").as("eval_id"), col("db").as("train_id"),
        col("jaccard"))

  def exactSubstringLeaks(
      train: DataFrame,
      evalDocs: DataFrame,
      k: Int = 13,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"invalid exactSubstringLeaks k=$k")
    val spark = train.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val kk = k
    def grams(df: DataFrame) = Dedup.spread(
        df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = TextHashing.tokens(text)
        val n = toks.length - kk + 1
        val out = new Array[(Long, Long, String)](math.max(n, 0))
        var i = 0
        while (i < n) {
          out(i) = (id, (i + 1).toLong, toks.slice(i, i + kk).mkString(" "))
          i += 1
        }
        out
      }
      .toDF("doc_id", "i", "s")
    // grams leave the narrow pass as 64-bit hashes (the bigramLogProb
    // rule): the broadcast set and the semi-join probe move 8 bytes
    // per gram instead of ~100-byte 13-token strings; a cross-corpus
    // collision would add a false hit at ~|eval grams|·|train grams|
    // / 2⁶⁴ — the accepted signature-family bound.
    // No .distinct() on the build side (r20): a LeftSemi hit is
    // membership, so duplicate eval grams cannot change the result, and
    // the explicit distinct planned a full exchange + two aggregates over
    // the eval grams. The cost moves to the broadcast: the driver collects
    // EVERY eval-gram row and the hash relation keeps each duplicate, so
    // its size scales with total eval-gram occurrences, not distinct
    // grams; repetitive eval text inflates it. The train side stays
    // exchange-free up to the hits-only (leak-sized) window shuffle: the
    // broadcast semi-join IS the guide-§3.2 prefilter, with zero false
    // positives, so a Bloom in front of it would only add an eval pass.
    val eg = grams(evalDocs).select(xxhash64(col("s")).as("h"))
    val hits = grams(train)
      .select(col("doc_id"), col("i"), xxhash64(col("s")).as("h"))
      .join(broadcast(eg), Seq("h"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    hits
      .withColumn("gap", col("i") - lag(col("i"), 1, null).over(byDoc))
      .withColumn("f",
        when(col("gap").isNull || col("gap") <= 1, lit(0)).otherwise(lit(1)))
      .withColumn("island", sum(col("f")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("span_start"), (max(col("i")) + (kk - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }
}
