package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextHashing

/** The composed end-to-end training-data pipeline: the chain a real
  * corpus release runs, built from the engine's own operators —
  *
  *   normalize -> quality/language filter -> near-dup pairs ->
  *   duplicate clusters (keep one per cluster) -> decontaminate vs the
  *   held-out eval slice -> train/val/test split -> sequence packing.
  *
  * Every stage is individually oracle-checked elsewhere; this operator
  * is the COMPOSITION evidence: the stages chain without plan blowup,
  * with explicit persist/reuse discipline so the corpus parquet is
  * scanned exactly once however many stages fan out from it (plan-gated
  * in PlanSpec).
  *
  * Scale shape per stage:
  *   - normalize + filter: ONE fused typed pass over the single corpus
  *     scan computes the normalized text ([[graft.functions.TextHashing
  *     .normalize]], the spec-pinned Scala twin of [[TextAnalysis
  *     .normalizedText]]), the eval-slice flag, token count, quality
  *     score and language-evidence flag together (tokenize once, not
  *     once per signal — the composable per-signal operators join by
  *     id, which at corpus scale would shuffle the text three times);
  *     persisted because every later branch (eval shingles, training
  *     filter) reads it. The formulas are the same ones [[TextAnalysis
  *     .quality]] / [[TextAnalysis.languageId]] declare (parity
  *     spec-pinned on fixtures), with 4-dp rounding via the languageId
  *     floor-trick — which equals DuckDB's `round(x,4)` (the oracle
  *     the pipeline is checked against); Spark's own `round()`
  *     re-parses the shortest decimal representation and can differ by
  *     one ulp-step exactly at representation boundaries;
  *   - dedup: [[Dedup.ngramJaccard]] banded pairs ->
  *     [[Dedup.duplicateClusters]] hash-min components; losers drop by
  *     keyed anti-join (id-keyed, never all-pairs);
  *   - decontamination: the [[Decontamination.contaminatedIds]] shape —
  *     eval shingle set broadcast, corpus checked in ONE narrow typed
  *     pass (no explode, no shuffle; the pipeline needs the drop
  *     decision, not overlapWith's per-doc ratios);
  *   - split/pack: [[Sampling.packSequences]] (per-shard windows, no
  *     global sort) off the persisted clean corpus, with the
  *     [[Sampling.splitLabel]] expression computed in place (the label
  *     is a pure function of the id — a join against a hashSplit frame
  *     would buy nothing but an exchange).
  *
  * Quality/langid semantics in the fused filter: keep a document iff it
  * has at least one token, at least one function-word hit from ANY
  * language profile (exactly "predicted_lang != 'und'" in
  * [[TextAnalysis.languageId]]'s argmax terms — und means best score
  * <= 0 means zero profile hits), and composite quality score (the
  * [[TextAnalysis.quality]] formula, same 4-dp half-up rounding)
  * >= `minQuality`.
  *
  * CACHE OWNERSHIP: same contract as the sibling operators — the
  * persisted stages are not unpersisted here (the returned DataFrame
  * has no completion hook); batch harnesses clear the SQL cache
  * between queries.
  */
object TrainingPipeline {

  /** Per-stage row counts, harvested from `Dataset.observe` metric
    * accumulators — ZERO extra Spark jobs or scans (the counts ride the
    * jobs the pipeline runs anyway; a naive `stage.count()` audit would
    * re-run every stage). `nDocs`/`nEval`/`nFiltered` land while
    * [[TrainingPipeline.run]] materializes its internal stages;
    * `nDeduped`/`nClean`/`nPacked` land with the CALLER's first action
    * on the returned frame — `counts` blocks until then, so call it
    * only after acting on the result.
    */
  final class PipelineMetrics private[operators] (
      normObs: org.apache.spark.sql.Observation,
      filteredObs: org.apache.spark.sql.Observation,
      dedupedObs: org.apache.spark.sql.Observation,
      cleanObs: org.apache.spark.sql.Observation,
      packedObs: org.apache.spark.sql.Observation) {
    private def l(o: org.apache.spark.sql.Observation, k: String): Long =
      o.get(k).asInstanceOf[Long]
    /** docs in (post-normalize == input; normalize never drops). */
    def nDocs: Long = l(normObs, "n_docs")
    /** held-out eval slice size (decontamination target). */
    def nEval: Long = l(normObs, "n_eval")
    /** survivors of the fused quality/language filter. */
    def nFiltered: Long = l(filteredObs, "n_filtered")
    /** survivors after near-dup cluster keep-one. */
    def nDeduped: Long = l(dedupedObs, "n_deduped")
    /** survivors after decontamination. */
    def nClean: Long = l(cleanObs, "n_clean")
    /** packed output rows (== nClean; packing assigns, never drops). */
    def nPacked: Long = l(packedObs, "n_packed")
    /** All stage counts, in pipeline order. */
    def counts: Map[String, Long] = Map(
      "n_docs" -> nDocs, "n_eval" -> nEval, "n_filtered" -> nFiltered,
      "n_deduped" -> nDeduped, "n_clean" -> nClean, "n_packed" -> nPacked)
  }

  def run(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      evalMod: Int = 100,
      evalBuckets: Int = 3,
      minQuality: Double = 0.2,
      budget: Int = 2048,
      shards: Int = 32): DataFrame =
    runObserved(documents, idCol, textCol, evalMod, evalBuckets,
      minQuality, budget, shards)._1

  /** [[run]] plus per-stage observability (the release-audit surface:
    * how many docs each cleaning stage dropped). Metrics are
    * `Dataset.observe` accumulator folds on the stage frames the
    * pipeline builds anyway — no extra action, scan or job (job-audit
    * spec-pinned); observed nodes sit below the stage persists, so each
    * fires exactly once, when its stage first materializes. Fresh
    * auto-named `Observation`s per call keep concurrent pipelines in
    * one session from colliding.
    */
  def runObserved(
      documents: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      evalMod: Int = 100,
      evalBuckets: Int = 3,
      minQuality: Double = 0.2,
      budget: Int = 2048,
      shards: Int = 32): (DataFrame, PipelineMetrics) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val normObs = org.apache.spark.sql.Observation()
    val filteredObs = org.apache.spark.sql.Observation()
    val dedupedObs = org.apache.spark.sql.Observation()
    val cleanObs = org.apache.spark.sql.Observation()
    val packedObs = org.apache.spark.sql.Observation()

    // 1+2. fused prep: normalize + eval-slice flag + quality/language
    // keep flag, ONE typed pass over the single corpus scan (normalize
    // via TextHashing.normalize, the spec-pinned Scala twin of
    // TextAnalysis.normalizedText; tokenize once per doc, not once per
    // signal — the composable per-signal operators join by id, which
    // at corpus scale would shuffle the text three times). The
    // persisted prep frame is the one node every later branch (eval
    // shingle set, training filter) reads, so the corpus parquet is
    // scanned exactly once however many stages fan out (plan-gated).
    // The observes ride this node: n_docs/n_eval fold the branch
    // predicate into the pass, n_filtered counts training survivors.
    val stopSet = TextAnalysis.Stopwords.toSet
    val langSet = TextAnalysis.LangProfiles.flatMap(_._2).toSet
    val minQ = minQuality
    val eMod = evalMod.toLong
    val eBuckets = evalBuckets.toLong
    val prep = Dedup.spread(documents.select(
      col(idCol).cast("long").as("doc_id"), col(textCol).as("text")))
      .as[(Long, String)]
      .map { case (id, raw) =>
        val text = TextHashing.normalize(raw)
        // pmod semantics: non-negative remainder, like the Column form
        val isEval = (id % eMod + eMod) % eMod < eBuckets
        val toks = TextHashing.tokens(text)
        val n = toks.length
        var stops = 0
        var langHits = 0
        toks.foreach { t =>
          if (stopSet(t)) stops += 1
          if (langSet(t)) langHits += 1
        }
        // shared round4 so this fused score can never diverge from the
        // composed TextAnalysis.quality()>=minQuality path at boundaries
        val score =
          if (n == 0) 0.0
          else TextHashing.round4(stops.toDouble / n * 0.5 +
            math.min(n, 100).toDouble / 100.0 * 0.5)
        (id, text, isEval, n > 0 && langHits > 0 && score >= minQ)
      }
      .toDF("doc_id", "text", "is_eval", "keep")
      .observe(normObs,
        count(lit(1)).as("n_docs"),
        count(when(col("is_eval"), 1)).as("n_eval"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the eval slice is held OUT of the released corpus and used only
    // as the decontamination target (id-hash split, deterministic)
    val evalDocs = prep.filter(col("is_eval")).select("doc_id", "text")
    val filtered = prep.filter(!col("is_eval") && col("keep"))
      .select("doc_id", "text")
      .observe(filteredObs, count(lit(1)).as("n_filtered"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 3. near-dup pairs -> connected components -> keep the cluster
    // representative (min id); losers drop via keyed anti-join
    val pairs = Dedup.ngramJaccard(filtered)
    val losers = Dedup.duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    // the deduped observe node appears TWICE in the final query (once
    // under the decontamination probe, once on the kept side) — exact
    // duplicate CollectMetrics subtrees are legal and both fold the
    // full frame, so the count is well-defined either way
    val deduped = filtered.join(losers, Seq("doc_id"), "left_anti")
      .observe(dedupedObs, count(lit(1)).as("n_deduped"))

    // 4. decontaminate: any 4-gram shared with the eval slice drops the
    // doc. [[Decontamination.keepFilter]] — the GUARDED form: the eval
    // shingle set is counted first; under the cap it is collected and
    // broadcast for one narrow typed filter (no shingle explode, no
    // shuffle, no anti-join — the normal case, eval is 3% of the
    // corpus), and an over-cap eval slice falls back to the distributed
    // Bloom-sketch prefilter + candidate-only exact confirm instead of
    // silently OOMing the driver. Semantically identical to
    // `Decontamination.overlapWith(...).select("doc_id")` as the drop
    // set (parity spec-pinned); use overlapWith when the per-doc
    // overlap ratios themselves are the product.
    val clean = Decontamination.keepFilter(
        deduped.as[(Long, String)], evalDocs, "doc_id", "text",
        gramSize = 4, maxCollectedShingles = Decontamination.MaxCollectedEvalShingles)
      .observe(cleanObs, count(lit(1)).as("n_clean"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 5. split + 6. pack off the persisted clean corpus. The split
    // label is a pure function of the id ([[Sampling.splitLabel]], the
    // same expression hashSplit assigns), so it is computed in place on
    // the packed frame — joining against a hashSplit frame would buy
    // nothing but an exchange.
    val packed = Sampling.packSequences(clean, budget = budget, shards = shards)
    val out = packed
      .withColumn("split", Sampling.splitLabel(col("doc_id")))
      .select(col("doc_id"), col("split"), col("shard"), col("bin"),
        col("off"), col("n_tokens"))
      .observe(packedObs, count(lit(1)).as("n_packed"))
    (out, new PipelineMetrics(normObs, filteredObs, dedupedObs, cleanObs, packedObs))
  }

  /** The physical layout a release write uses: one keyed exchange
    * co-locating each shard (the `shard` column is [[Sampling
    * .packSequences]]'s stable `mix32(id) % shards` assignment, so the
    * layout is reproducible across runs, re-partitioning and appends),
    * then a partition-local sort on (split, shard, id). The sort leads
    * with the partition columns so `partitionBy`'s writer sees its
    * required ordering already satisfied — no second sort, no
    * spilled-writer fallback — and the id tiebreak makes every file's
    * row order deterministic. Exactly ONE exchange, no range exchange
    * (a global ORDER BY here would range-partition the corpus for no
    * layout benefit).
    */
  def releaseLayout(release: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(release.columns.contains("split") && release.columns.contains("shard"),
      s"release layout needs split+shard columns, got ${release.columns.mkString(",")}")
    release
      .repartition(col("shard"))
      .sortWithinPartitions(col("split"), col("shard"), col(idCol))
  }

  /** Release-to-release diff: which documents were added, removed or
    * changed between two corpus releases — the audit a versioned
    * dataset needs (what did this cleaning-rule change actually do?)
    * and the input to incremental re-processing (only `added`/`changed`
    * docs need re-embedding). Content identity is the md5 of the
    * `contentCols` tuple (unit-separator joined, null-marked, so
    * ("a",null) can't alias ("a","") or a shifted tuple); docs present
    * in both releases with equal digests are dropped from the output —
    * at corpus scale the diff is small and the unchanged mass is the
    * last thing to materialize.
    *
    * Scale shape: one narrow digest projection per side + ONE keyed
    * full-outer join on the id; nothing else shuffles. Digests cross
    * the exchange instead of document bodies.
    */
  def releaseDiff(
      oldRelease: DataFrame,
      newRelease: DataFrame,
      idCol: String = "doc_id",
      contentCols: Seq[String] = Seq("text")): DataFrame = {
    require(contentCols.nonEmpty, "releaseDiff needs at least one content column")
    def digested(df: DataFrame, md5Name: String): DataFrame =
      df.select(
        col(idCol).cast("long").as(idCol),
        md5(concat_ws("\u0001",
          contentCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
          .as(md5Name))
    digested(oldRelease, "old_md5")
      .join(digested(newRelease, "new_md5"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col(idCol), col("status"), col("old_md5"), col("new_md5"))
  }

  /** Incremental corpus refresh — the weekly job a live 100 TB corpus
    * runs: take a new crawl batch, drop what the released corpus
    * already has, drop within-batch copies, decontaminate against the
    * eval suite, and emit the surviving docs with their release
    * placement (split + shard) ready for an append-shard write
    * ([[writeRelease]] with mode append, or a per-shard file add).
    * Composes the engine's own incremental pieces; nothing here is new
    * machinery:
    *
    *   1. corpus-dup drop: [[Dedup.bloomPrefilterDedupWithSketch]] —
    *      the released corpus is ONE treeAggregate pass into a Bloom
    *      sketch ([[Dedup.contentSketch]]; build it once per release
    *      and pass it in via `corpusSketch` to amortize across
    *      batches), the batch is prefiltered NARROWLY (no false
    *      negatives — a miss is definitively new), and only sketch
    *      hits pay the exact broadcast confirm. The corpus is never
    *      shuffled; the drop anti-join is id-keyed on the batch.
    *      This runs FIRST so every later stage sees the smaller frame.
    *   2. within-batch exact dedup: digest-keyed min-id winners
    *      ([[Dedup.exact]]'s shape), rejoined by id — only (digest,
    *      id) pairs cross the winners exchange, never text.
    *   3. decontamination: the guarded [[Decontamination.decontaminate]]
    *      keep-side form (broadcast eval set + narrow pass under the
    *      cap, Bloom-sketch fallback over it); pass a
    *      [[Decontamination.prepareEval]] handle via `preparedEval` to
    *      amortize the eval side across batches the way `corpusSketch`
    *      amortizes the corpus side.
    *   4. placement: [[Sampling.splitLabel]] + the packSequences shard
    *      assignment (`mix32(id) % shards`), computed IN PLACE — pure
    *      functions of the id, no join — plus the md5 content digest
    *      ([[releaseDiff]]'s identity), so the output diffs cleanly
    *      against the next release and appends deterministically.
    *
    * Output: one row per genuinely-new clean doc — (idCol, h, split,
    * shard). Everything after the sketch confirm is narrow on the
    * batch side except the one winners exchange; the released corpus
    * contributes exactly its sketch pass + the narrow confirm scan,
    * regardless of batch count.
    */
  /** Second composed pipeline — the MODEL-SIGNAL screening chain that
    * complements [[run]]'s heuristic chain, built entirely from the
    * round-9 operators:
    *
    *   1. [[TextAnalysis.linearQualityScore]]: hashed linear classifier
    *      keep (narrow typed pass);
    *   2. [[Dedup.spanDupFraction]] over the SURVIVORS: drop docs whose
    *      corpus-duplicated span coverage exceeds `maxDupFrac` (the
    *      span df is computed on the screened corpus — order matters
    *      and is pinned by the oracle);
    *   3. [[Sampling.curriculum]]: pretrain/anneal phase assignment on
    *      what remains;
    *   4. phase-level summary (docs, tokens, mean quality) — the
    *      dimension-sized report a mix designer reads.
    *
    * Scale shape: two narrow passes + dd12's gram-keyed df shuffle on
    * the (smaller) screened corpus + one keyed semi/left join per
    * stage boundary + a 2-row final agg. No stage widens the data.
    */
  /** CACHE NOTE: this overload persists two mid-pipeline frames and
    * returns a LAZY result, so it cannot unpersist them itself — the
    * entries live until `spark.catalog.clearCache()` (the batch-harness
    * convention) or session end. A long-lived session invoking this
    * repeatedly should use [[screenAndPhaseManaged]] and call its
    * cleanup after the final action on the report.
    */
  def screenAndPhase(
      documents: DataFrame,
      clfThreshold: Double = -0.2,
      maxDupFrac: Double = 0.3,
      qualityMin: Double = 0.5,
      annealPct: Int = 30,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    screenAndPhaseManaged(documents, clfThreshold, maxDupFrac, qualityMin,
      annealPct, idCol, textCol)._1

  /** [[screenAndPhase]] with caller-managed cache cleanup: returns the
    * phase report plus a thunk that unpersists the two mid-pipeline
    * frames. Invoke the thunk AFTER the final action on the report —
    * unpersisting earlier silently recomputes the classifier pass and
    * the span chain once per downstream consumer.
    */
  def screenAndPhaseManaged(
      documents: DataFrame,
      clfThreshold: Double = -0.2,
      maxDupFrac: Double = 0.3,
      qualityMin: Double = 0.5,
      annealPct: Int = 30,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, () => Unit) = {
    // clfThreshold default: the deterministic LCG weight table skews
    // negative (mean margin ~ -0.14 on the fixture corpus), so the
    // screen cut sits below the mass center and drops the worst tail
    // rather than the majority - a trained table would recalibrate this
    val clfKeep = TextAnalysis.linearQualityScore(documents,
        threshold = clfThreshold, idCol = idCol, textCol = textCol)
      .filter(col("keep")).select(col("doc_id"))
    // screened feeds the span chain AND the survivor join; survivors
    // feed curriculum AND the final join — without the persists the
    // typed classifier pass + semi-join re-execute once per consumer
    // (round-12 re-measure: persisting both cuts the warm composition
    // ~2.8 s -> ~1.6 s at sf0.1, reversing round 11's negative
    // result). The returned cleanup thunk is the unpersist
    // path; the unmanaged overload documents the clearCache convention.
    val screened = documents
      .select(col(idCol).cast("long").as("doc_id"), col(textCol))
      .join(clfKeep, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spanKeep = Dedup.spanDupFraction(screened, maxDupFrac = maxDupFrac,
        idCol = "doc_id", textCol = textCol)
      .filter(!col("drop"))
      .select(col("doc_id"), col("n_tokens"))
    val survivors = screened.join(spanKeep, Seq("doc_id"), "inner")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val phased =
      Sampling.curriculum(survivors, qualityMin, annealPct, "doc_id", textCol)
    val report = phased
      .join(survivors.select(col("doc_id"), col("n_tokens")), "doc_id")
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(avg(col("quality_score")), 4).as("mean_quality"))
    (report, () => { screened.unpersist(false); survivors.unpersist(false); () })
  }

  def refresh(
      released: DataFrame,
      newBatch: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      shards: Int = 32,
      fpp: Double = 0.01,
      corpusSketch: Option[Array[Byte]] = None,
      preparedEval: Option[Decontamination.PreparedEval] = None,
      maxCollectedShingles: Long = Decontamination.MaxCollectedEvalShingles): DataFrame =
    refreshTapped(released, newBatch, evalDocs, idCol, textCol, gramSize,
      shards, fpp, corpusSketch, preparedEval, maxCollectedShingles,
      (_, df) => df)

  /** Per-batch-stage counts for [[refreshObserved]] — `Dataset.observe`
    * accumulators riding the existing plan nodes (zero extra jobs or
    * scans, the [[runObserved]] discipline). Read only after acting on
    * the result; in `foreachBatch`, after the sink's action each batch.
    */
  final class RefreshMetrics private[operators] (
      inObs: org.apache.spark.sql.Observation,
      freshObs: org.apache.spark.sql.Observation,
      reprObs: org.apache.spark.sql.Observation,
      outObs: org.apache.spark.sql.Observation) {
    private def l(o: org.apache.spark.sql.Observation, k: String): Long =
      o.get(k).asInstanceOf[Long]
    /** batch rows in. */
    def nBatch: Long = l(inObs, "n_batch")
    /** survivors of the released-corpus exact-dup drop. */
    def nFresh: Long = l(freshObs, "n_fresh")
    /** survivors of the within-batch exact dedup. */
    def nRepr: Long = l(reprObs, "n_repr")
    /** placed output rows (post-decontamination). */
    def nPlaced: Long = l(outObs, "n_placed")
    /** All stage counts in pipeline order. */
    def counts: Seq[(String, Long)] = Seq(
      "batch" -> nBatch, "fresh" -> nFresh, "repr" -> nRepr,
      "placed" -> nPlaced)
  }

  /** [[refresh]] with per-stage observability: the ingest monitoring a
    * weekly job alarms on ("the corpus-dup drop rate doubled this
    * week"). Same plan, same output — the counts ride the existing
    * nodes as observe metrics.
    */
  def refreshObserved(
      released: DataFrame,
      newBatch: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      shards: Int = 32,
      fpp: Double = 0.01,
      corpusSketch: Option[Array[Byte]] = None,
      preparedEval: Option[Decontamination.PreparedEval] = None,
      maxCollectedShingles: Long = Decontamination.MaxCollectedEvalShingles)
      : (DataFrame, RefreshMetrics) = {
    val inObs = org.apache.spark.sql.Observation()
    val freshObs = org.apache.spark.sql.Observation()
    val reprObs = org.apache.spark.sql.Observation()
    val outObs = org.apache.spark.sql.Observation()
    val tap: (String, DataFrame) => DataFrame = {
      case ("in", df) => df.observe(inObs, count(lit(1)).as("n_batch"))
      case ("fresh", df) => df.observe(freshObs, count(lit(1)).as("n_fresh"))
      case ("repr", df) => df.observe(reprObs, count(lit(1)).as("n_repr"))
      case ("out", df) => df.observe(outObs, count(lit(1)).as("n_placed"))
      case (_, df) => df
    }
    (refreshTapped(released, newBatch, evalDocs, idCol, textCol, gramSize,
      shards, fpp, corpusSketch, preparedEval, maxCollectedShingles, tap),
      new RefreshMetrics(inObs, freshObs, reprObs, outObs))
  }

  private def refreshTapped(
      released: DataFrame,
      newBatch: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      gramSize: Int,
      shards: Int,
      fpp: Double,
      corpusSketch: Option[Array[Byte]],
      preparedEval: Option[Decontamination.PreparedEval],
      maxCollectedShingles: Long,
      tap: (String, DataFrame) => DataFrame): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val batch = tap("in",
      newBatch.select(col(idCol).cast("long").as(idCol), col(textCol)))
    // 1. drop docs the released corpus already has (exact text match;
    // the sketch is a pure performance layer, see bloomPrefilterDedup)
    val sketch = corpusSketch.getOrElse(Dedup.contentSketch(released, textCol, fpp))
    val dupIds = Dedup.bloomPrefilterDedupWithSketch(
      released, batch, idCol, textCol, sketch).select(idCol)
    val fresh = tap("fresh", batch.join(dupIds, Seq(idCol), "left_anti"))
    // 2. within-batch exact dedup: winners carry (digest, min id) only
    val winners = fresh
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val repr = tap("repr", fresh.join(winners, Seq(idCol), "left_semi"))
    // 3. decontaminate survivors vs the eval suite (guarded eval side;
    // a prebuilt handle skips re-counting/re-collecting it per batch).
    // Both arms go through the spread-FREE keepFilter core: `repr` is a
    // mid-pipeline frame (anti-join + dedup above), and Dedup.spread's
    // partition-count probe would eagerly materialize that whole
    // subtree under AQE — measured ~0.8 s of rf1's cold path, executed
    // twice (the keepFilter doc's exact warning).
    val spark = repr.sparkSession
    import spark.implicits._
    val reprTyped = repr
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
    val clean = preparedEval match {
      case Some(prep) => Decontamination.keepFilterSide(
        reprTyped, prep.side, prep.gramSize, idCol, textCol)
      case None => Decontamination.keepFilter(
        reprTyped, evalDocs, idCol, textCol, gramSize, maxCollectedShingles)
    }
    // 4. in-place placement + content digest — no joins, pure id/text
    tap("out", clean.select(
      col(idCol),
      md5(col(textCol)).as("h"),
      Sampling.splitLabel(col(idCol)).as("split"),
      pmod(IvfSearch.mix32(col(idCol)), lit(shards.toLong)).as("shard")))
  }

  /** [[refresh]] plus the near-dup half: after the exact screens, drop
    * batch docs that NEAR-duplicate the released corpus (J >= 0.5 via
    * [[Dedup.incrementalNearDup]] against the persisted band index) —
    * the full weekly-ingest screen a production corpus runs. The
    * near-dup probe consumes the same prebuilt artifacts discipline:
    * pass `corpusBands` from [[loadMinhashBands]] so steady state
    * re-signatures nothing; the probe runs on refresh's SURVIVORS
    * (already exact-deduped and decontaminated — the cheapest point:
    * every earlier stage only shrinks the batch).
    */
  def refreshWithNearDup(
      released: DataFrame,
      newBatch: DataFrame,
      evalDocs: DataFrame,
      corpusBands: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gramSize: Int = 4,
      shards: Int = 32,
      fpp: Double = 0.01,
      corpusSketch: Option[Array[Byte]] = None,
      preparedEval: Option[Decontamination.PreparedEval] = None): DataFrame = {
    // eager localCheckpoint: `placed` feeds BOTH the final left_anti
    // and (via survivors) the near-dup probe — without materialization
    // the whole refresh subtree (Bloom confirm + decon screen) executes
    // twice per batch. localCheckpoint over persist for the same reason
    // as Dedup.incrementalNearDup: no unpersist point in a lazy return,
    // and the blocks self-free on GC under a long-running foreachBatch.
    val placed = refresh(released, newBatch, evalDocs, idCol, textCol,
      gramSize, shards, fpp, corpusSketch, preparedEval)
      .localCheckpoint(eager = true)
    val batch = newBatch.select(col(idCol).cast("long").as(idCol), col(textCol))
    val survivors = batch.join(placed.select(idCol), Seq(idCol), "left_semi")
    val nearDupIds = Dedup.incrementalNearDup(
        survivors, released, corpusBands, idCol, textCol)
      .select(col("db").as(idCol)).distinct()
    placed.join(nearDupIds, Seq(idCol), "left_anti")
  }

  /** Ship the release's tokenizer with the release: persist a trained
    * BPE merge table (from [[TextAnalysis.bpeTrain]]) under the release
    * directory, next to the refresh artifacts — a consumer of the
    * release needs the EXACT tokenizer its token budgets and packing
    * were denominated in, and retraining on the released corpus is both
    * a corpus-sized job and a reproducibility hazard (a changed cap or
    * tie-break silently re-denominates every budget). Call after
    * [[writeRelease]]; load with [[loadTokenizer]].
    */
  def writeTokenizer(merges: Seq[(String, String)], releasePath: String): Unit =
    graft.functions.Bpe.saveMerges(merges,
      java.nio.file.Paths.get(releasePath, TokenizerSubdir, "merges.bin"))

  /** Load the merge table [[writeTokenizer]] persisted — zero Spark
    * jobs, rank order intact; pass straight to
    * [[TextAnalysis.bpeTokenize]].
    */
  def loadTokenizer(releasePath: String): Seq[(String, String)] =
    graft.functions.Bpe.loadMerges(
      java.nio.file.Paths.get(releasePath, TokenizerSubdir, "merges.bin"))

  /** Write a corpus release as deterministic sharded parquet:
    * `path/split=…/shard=…/` directories, one file per (split, shard)
    * (each shard lands in one task), rows id-sorted within every file.
    * Byte-stable layout given the same input — the property a dataset
    * release needs for diffing, resumable consumption and content
    * addressing. Read back with `spark.read.parquet(path)`; the
    * partition columns return as directory keys.
    */
  def writeRelease(release: DataFrame, path: String, idCol: String = "doc_id"): Unit =
    releaseLayout(release, idCol)
      .write.mode("overwrite").partitionBy("split", "shard").parquet(path)

  // ------------------------------------------- persisted refresh artifacts

  private val ArtifactsSubdir = "_graft_refresh"
  private val TokenizerSubdir = "_graft_tokenizer"
  private val ArtifactsMagic = 0x47524654 // "GRFT"

  /** Persist the refresh steady-state artifacts NEXT TO a written
    * release: the released-corpus content sketch (one treeAggregate
    * pass) and the guarded eval side ([[Decontamination.prepareEval]]
    * — collected set under the cap, distinct-shingle parquet + Bloom
    * sketch over it). A weekly refresh job restarted from this release
    * then loads both with [[loadRefreshArtifacts]] and runs its first
    * micro-batch WITHOUT any corpus- or eval-scanning setup jobs — the
    * restart cost that previously made every new streaming query pay
    * the cold rf1 price once.
    *
    * Format is a hand-rolled binary (magic + version + length-prefixed
    * sections, UTF-8 strings) — stable, dependency-free, and not tied
    * to JVM serialVersionUIDs. Call right after [[writeRelease]], with
    * the same release path.
    */
  def writeRefreshArtifacts(
      released: DataFrame,
      evalDocs: DataFrame,
      releasePath: String,
      textCol: String = "text",
      gramSize: Int = 4,
      fpp: Double = 0.01,
      maxCollectedShingles: Long = Decontamination.MaxCollectedEvalShingles): Unit = {
    val sketch = Dedup.contentSketch(released, textCol, fpp)
    val prep = Decontamination.prepareEval(evalDocs, textCol, gramSize, maxCollectedShingles)
    val dir = java.nio.file.Paths.get(releasePath, ArtifactsSubdir)
    java.nio.file.Files.createDirectories(dir)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("artifacts.bin"))))
    try {
      out.writeInt(ArtifactsMagic)
      out.writeInt(1) // version
      out.writeInt(sketch.length); out.write(sketch)
      out.writeInt(gramSize)
      prep.side match {
        case Left(setB) =>
          out.writeByte(0)
          val set = setB.value
          out.writeInt(set.size)
          set.foreach { s =>
            val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out.writeInt(b.length); out.write(b)
          }
        case Right((shFrame, bloomB)) =>
          out.writeByte(1)
          val bb = graft.functions.BloomMightContain.serialize(bloomB.value)
          out.writeInt(bb.length); out.write(bb)
          shFrame.write.mode("overwrite")
            .parquet(dir.resolve("eval_shingles.parquet").toString)
      }
    } finally out.close()
  }

  // ------------------------------------------- persisted model artifacts

  private val ModelsSubdir = "_graft_models"
  private val LmMetaMagic = 0x47524C4D // "GRLM"

  /** Persist a trained unigram LM with the release: the
    * vocabulary-sized count table as parquet (token-sorted, one file —
    * a few MB even at web-corpus vocab, Heaps' law) and the frozen
    * Laplace totals (n, v) in a small binary header. The steady-state
    * perplexity screen ([[TextAnalysis.unigramLogProbWith]]) then
    * scores every incoming batch against the SAME model — comparable
    * bits across batches, zero corpus re-scans — the same
    * ship-the-model discipline as the BPE merge table and the IVF
    * centroids.
    */
  def writeUnigramLm(lm: TextAnalysis.UnigramLm, releasePath: String): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    lm.counts.select(col("w"), col("c").cast("long").as("c"))
      .orderBy("w").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("unigram_counts").toString)
    val out = new java.io.DataOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("unigram_meta.bin")))
    try {
      out.writeInt(LmMetaMagic); out.writeInt(1)
      out.writeLong(lm.n); out.writeLong(lm.v)
    } finally out.close()
  }

  /** Load the LM [[writeUnigramLm]] persisted: one driver file read
    * for the totals plus a lazy parquet frame for the counts — no
    * corpus scan, no estimation jobs.
    */
  def loadUnigramLm(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): TextAnalysis.UnigramLm = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    val in = new java.io.DataInputStream(
      java.nio.file.Files.newInputStream(dir.resolve("unigram_meta.bin")))
    val (n, v) =
      try {
        require(in.readInt() == LmMetaMagic, s"not a unigram-LM meta file: $dir")
        val version = in.readInt()
        require(version == 1, s"unknown unigram-LM version $version")
        (in.readLong(), in.readLong())
      } finally in.close()
    TextAnalysis.UnigramLm(
      spark.read.parquet(dir.resolve("unigram_counts").toString), n, v)
  }

  /** Persist the trained quality-classifier weight table
    * ([[TextAnalysis.trainQualityWeights]]'s output) with the release:
    * dim-sized parquet, bucket-sorted, one file. Load with
    * [[loadQualityWeights]] and pass straight to
    * [[TextAnalysis.linearQualityScore]]'s `weights` swap-in — the
    * deployed filter screens every batch with the SAME weights the
    * release was built under.
    */
  def writeQualityWeights(weights: DataFrame, releasePath: String): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    weights.select(col("bucket").cast("long").as("bucket"),
        col("weight").cast("double").as("weight"))
      .orderBy("bucket").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("quality_weights").toString)
  }

  /** Load the weight table [[writeQualityWeights]] persisted — a lazy
    * dim-sized parquet frame, no training jobs.
    */
  def loadQualityWeights(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    spark.read.parquet(
      java.nio.file.Paths.get(releasePath, ModelsSubdir)
        .resolve("quality_weights").toString)

  /** Persist the released corpus's LSH band index
    * ([[Dedup.minhashBands]]) with the release — the near-dup analog of
    * the refresh Bloom sketch: a weekly batch probes this table with a
    * (band, band_hash) equi-join instead of re-signaturing the whole
    * corpus ([[Dedup.incrementalNearDup]]). Row-count is corpus ×
    * bands; parquet-compressed band hashes are a few bytes per row —
    * the standard price of a persisted LSH index.
    */
  def writeMinhashBands(released: DataFrame, releasePath: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 64, bands: Int = 32, maxBucket: Int = 1000): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    Dedup.minhashBands(released, idCol, textCol, numHashes, bands, maxBucket)
      .orderBy("doc_id", "band")
      .write.mode("overwrite").parquet(dir.resolve("minhash_bands").toString)
  }

  /** Load the band index [[writeMinhashBands]] persisted — a lazy
    * parquet frame, zero corpus scans; pass as `corpusBands` to
    * [[Dedup.incrementalNearDup]]. Fails fast unless the parquet
    * schema carries the `minhash_bands` kind stamp (the build
    * parameters ride the `band_hash` column metadata and are
    * re-checked against the probe's at probe time — mismatched
    * parameters would otherwise collapse recall silently).
    */
  def loadMinhashBands(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("minhash_bands").toString),
      "band_hash", "minhash_bands", s"loadMinhashBands($releasePath)")

  /** Persist the released corpus's IVF-PQ embedding index — the
    * compressed-domain analog of [[writeMinhashBands]]: a small binary
    * model artifact ([[PqSearch.savePqModel]]: coarse centroids +
    * per-subspace codebooks) plus the encoded codes parquet (m bytes'
    * worth of codes per vector instead of the vectors). Vectors fit and
    * encode ONCE at release; every incoming batch probes the codes
    * ([[PqSearch.probePqCodes]]) without touching a released vector
    * again.
    */
  def writePqIndex(released: DataFrame, releasePath: String,
      m: Int = 8, k: Int = 8, nClusters: Int = 16,
      nProbe: Int = 4, lloydIter: Int = 3, pqIters: Int = 2,
      fitSampleMod: Long = 1, fitMaxRows: Int = 4096): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    val model = PqSearch.fitPqModel(released, m, k, nClusters, lloydIter,
      pqIters, fitSampleMod, fitMaxRows)
    PqSearch.savePqModel(model, dir.resolve("pq_model.bin"))
    PqSearch.encodePq(released, model)
      .orderBy("vec_id")
      .write.mode("overwrite").parquet(dir.resolve("pq_codes").toString)
  }

  /** Load the IVF-PQ index [[writePqIndex]] persisted: the model (zero
    * Spark jobs) and the codes as a lazy parquet frame. Fails fast
    * unless the codes parquet carries the `pq_codes` kind stamp; the
    * build parameters ride the `codes` column metadata and are
    * re-checked against the probe model's at probe time.
    */
  def loadPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): (PqSearch.PqModel, DataFrame) = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    (PqSearch.loadPqModel(dir.resolve("pq_model.bin")),
      Dedup.requireIndexKind(
        spark.read.parquet(dir.resolve("pq_codes").toString),
        "codes", "pq_codes", s"loadPqIndex($releasePath)"))
  }

  /** Persist the released corpus's SQ8 embedding index — the
    * scalar-quantization analog of [[writePqIndex]]: a tiny binary
    * model artifact ([[SqSearch.saveSqModel]]: per-dimension min/max)
    * plus the encoded codes parquet (dim uint8 codes per vector, a 4×
    * compression of float32). Stats fit and vectors encode ONCE at
    * release; every incoming batch probes the codes
    * ([[SqSearch.probeSqCodes]]) without touching a released vector
    * again — the in-query retrain that dominates the monolithic
    * ann_sq8's cost disappears from the steady state.
    */
  def writeSqIndex(released: DataFrame, releasePath: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    val model = SqSearch.fitSqModel(released, idCol, vecCol)
    SqSearch.saveSqModel(model, dir.resolve("sq_model.bin"))
    SqSearch.encodeSq(released, model, idCol, vecCol)
      .orderBy("vec_id")
      .write.mode("overwrite").parquet(dir.resolve("sq_codes").toString)
  }

  /** Load the SQ8 index [[writeSqIndex]] persisted: the model (zero
    * Spark jobs) and the codes as a lazy kind-stamped parquet frame;
    * the stamped dim is re-checked against the model's at probe time.
    */
  def loadSqIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): (SqSearch.SqModel, DataFrame) = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    (SqSearch.loadSqModel(dir.resolve("sq_model.bin")),
      Dedup.requireIndexKind(
        spark.read.parquet(dir.resolve("sq_codes").toString),
        "cd", "sq_codes", s"loadSqIndex($releasePath)"))
  }

  /** Persist the released corpus's BM25 postings with the release —
    * the retrieval analog of [[writeMinhashBands]]: text tokenizes and
    * counts ONCE at release; every later query batch probes the frozen
    * postings ([[graft.operators.TextAnalysis.probeBm25]]) without
    * touching released text again. Corpus stats (N, Σdl, #docs) ride
    * the `tf` column's schema metadata through the parquet footer.
    */
  def writeBm25Index(released: DataFrame, releasePath: String): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    TextAnalysis.bm25Postings(released)
      .orderBy("term", "doc_id")
      .write.mode("overwrite").parquet(dir.resolve("bm25_postings").toString)
  }

  /** Load the postings [[writeBm25Index]] persisted — lazy parquet, no
    * build jobs; pass to [[graft.operators.TextAnalysis.probeBm25]].
    * Kind-stamped like every loader here.
    */
  def loadBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("bm25_postings").toString),
      "tf", "bm25_postings", s"loadBm25Index($releasePath)")

  /** Persist an image set's dHash band index with the release — the
    * visual analog of [[writeMinhashBands]]: images decode and
    * signature ONCE at release time; every incoming batch probes the
    * index ([[Multimodal.dhashIncrementalPairs]]) without touching
    * released bytes again. 8 rows × ~17 bytes per image (one per
    * byte-band of the 64-bit signature).
    */
  def writeDhashIndex(
      released: org.apache.spark.sql.Dataset[MediaRow],
      releasePath: String,
      maxBucket: Int = 1000): Unit = {
    implicit val spark = released.sparkSession
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    Multimodal.dhashIndex(released, maxBucket)
      .orderBy("doc_id", "band")
      .write.mode("overwrite").parquet(dir.resolve("dhash_index").toString)
  }

  /** Load the index [[writeDhashIndex]] persisted — lazy parquet, no
    * decode jobs; pass as `index` to
    * [[Multimodal.dhashIncrementalPairs]]. Kind-stamped like
    * [[loadMinhashBands]].
    */
  def loadDhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("dhash_index").toString),
      "sig", "dhash_index", s"loadDhashIndex($releasePath)")

  /** Persist an image set's pHash (DCT) band index with the release —
    * [[writeDhashIndex]] in the frequency domain; batches probe via
    * [[Multimodal.phashIncrementalPairs]].
    */
  def writePhashIndex(
      released: org.apache.spark.sql.Dataset[MediaRow],
      releasePath: String,
      maxBucket: Int = 1000): Unit = {
    implicit val spark = released.sparkSession
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    Multimodal.phashIndex(released, maxBucket)
      .orderBy("doc_id", "band")
      .write.mode("overwrite").parquet(dir.resolve("phash_index").toString)
  }

  /** Load the index [[writePhashIndex]] persisted — lazy parquet, no
    * decode jobs; kind-stamped like [[loadDhashIndex]].
    */
  def loadPhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("phash_index").toString),
      "sig", "phash_index", s"loadPhashIndex($releasePath)")

  /** Persist a released video set's frame-signature index
    * ([[Multimodal.videoFrameIndex]]) — frames are sampled and
    * signatured ONCE at release time; batches probe with
    * [[Multimodal.videoIncrementalPairs]]. One row per (video,
    * distinct frame signature), post-cap set size carried as a column.
    */
  def writeVideoFrameIndex(
      releasedFrames: DataFrame,
      releasePath: String,
      frameBytes: Int,
      targetFrames: Int,
      maxDocFreq: Int = 1000): Unit = {
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    Multimodal.videoFrameIndex(releasedFrames, frameBytes = frameBytes,
        targetFrames = targetFrames, maxDocFreq = maxDocFreq)
      .orderBy("doc_id", "s")
      .write.mode("overwrite").parquet(dir.resolve("video_frame_index").toString)
  }

  /** Load the index [[writeVideoFrameIndex]] persisted — lazy parquet,
    * no frame-sampling jobs; pass as `index` to
    * [[Multimodal.videoIncrementalPairs]]. Kind-stamped like
    * [[loadMinhashBands]].
    */
  def loadVideoFrameIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("video_frame_index").toString),
      "s", "video_frame_index", s"loadVideoFrameIndex($releasePath)")

  /** Persist a released audio set's envelope band index
    * ([[Multimodal.audioEnvelopeIndex]]) — clips decode ONCE at
    * release time (decode is ~70% of the pair query's cost); batches
    * probe with [[Multimodal.audioIncrementalPairs]].
    */
  def writeAudioEnvelopeIndex(
      released: org.apache.spark.sql.Dataset[MediaRow],
      releasePath: String,
      maxBucket: Int = 1000): Unit = {
    implicit val spark = released.sparkSession
    val dir = java.nio.file.Paths.get(releasePath, ModelsSubdir)
    java.nio.file.Files.createDirectories(dir)
    Multimodal.audioEnvelopeIndex(released, maxBucket)
      .orderBy("doc_id", "band")
      .write.mode("overwrite").parquet(dir.resolve("audio_envelope_index").toString)
  }

  /** Load the index [[writeAudioEnvelopeIndex]] persisted — lazy
    * parquet, no decode jobs; pass as `index` to
    * [[Multimodal.audioIncrementalPairs]]. Kind-stamped like
    * [[loadMinhashBands]].
    */
  def loadAudioEnvelopeIndex(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): DataFrame =
    Dedup.requireIndexKind(
      spark.read.parquet(
        java.nio.file.Paths.get(releasePath, ModelsSubdir)
          .resolve("audio_envelope_index").toString),
      "sig", "audio_envelope_index", s"loadAudioEnvelopeIndex($releasePath)")

  /** Load the artifacts [[writeRefreshArtifacts]] persisted: the
    * corpus sketch bytes (pass as `corpusSketch` to [[refresh]]) and a
    * reconstructed [[Decontamination.PreparedEval]] (pass as
    * `preparedEval`). Under-cap eval sides load with ZERO Spark jobs
    * (one driver file read + a broadcast); the over-cap side re-reads
    * only the persisted distinct-shingle parquet — never the eval
    * corpus, never the released corpus.
    */
  def loadRefreshArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      releasePath: String): (Array[Byte], Decontamination.PreparedEval) = {
    val dir = java.nio.file.Paths.get(releasePath, ArtifactsSubdir)
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(dir.resolve("artifacts.bin"))))
    try {
      require(in.readInt() == ArtifactsMagic, s"not a refresh-artifacts file: $dir")
      val version = in.readInt()
      require(version == 1, s"unknown refresh-artifacts version $version")
      val sketch = new Array[Byte](in.readInt()); in.readFully(sketch)
      val gramSize = in.readInt()
      val side = in.readByte() match {
        case 0 =>
          val n = in.readInt()
          val b = Set.newBuilder[String]
          var i = 0
          while (i < n) {
            val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
            b += new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          Left(spark.sparkContext.broadcast(b.result()))
        case 1 =>
          val bb = new Array[Byte](in.readInt()); in.readFully(bb)
          val bloom = graft.functions.BloomMightContain.deserialize(bb)
          val shFrame = spark.read.parquet(dir.resolve("eval_shingles.parquet").toString)
          Right((shFrame, spark.sparkContext.broadcast(bloom)))
        case other => throw new IllegalStateException(s"bad eval-side tag $other")
      }
      (sketch, new Decontamination.PreparedEval(side, gramSize))
    } finally in.close()
  }

  /** Per-source curation scorecard: the release-review card a data
    * team reads before shipping a corpus — for every source, how many
    * docs survive the filter stack, sit in the perplexity head/tail,
    * look like fill-in templates, and what the modal topic is. Composes
    * [[TextAnalysis.filterStack]], [[TextAnalysis.pplBuckets]],
    * [[Dedup.templateSpam]] and [[TextAnalysis.topicTag]] via doc-keyed
    * equi-joins, then one source rollup (+ a source-partitioned argmax
    * window over source×topic counts — topic-cardinality rows).
    * Output is source-count-sized.
    *
    * The joined signal frame is persisted for its two consumers (the
    * rollup and the modal-topic count); batch harnesses clear the
    * cache between queries — a long-lived caller invoking this
    * repeatedly should `spark.catalog.clearCache()` (the
    * [[screenAndPhase]] convention).
    */
  def curationReport(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = documents
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
    val fs = TextAnalysis.filterStack(documents).select(col("doc_id"), col("keep"))
    val pb = TextAnalysis.pplBuckets(documents).select(col("doc_id"), col("bucket"))
    val tg = Dedup.templateSpam(documents).select(col("doc_id"), col("is_template"))
    val tp = TextAnalysis.topicTag(documents).select(col("doc_id"), col("topic"))
    val j = ids.join(fs, "doc_id").join(pb, "doc_id")
      .join(tg, "doc_id").join(tp, "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val agg = j.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("n_head"),
      sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("n_tail"),
      sum(when(col("is_template"), 1L).otherwise(0L)).as("n_template"))
    val tc = j.groupBy("source", "topic").agg(count(lit(1)).as("c"))
    val tm = tc.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("topic"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("topic").as("top_topic"))
    agg.join(tm, "source")
  }

  /** Train/val/test split-leakage audit: which CONTENT digests appear
    * in more than one split of a released layout — the eval-
    * contamination mechanism hash-splitting by id cannot prevent
    * (the same id never straddles splits, but duplicate TEXT under
    * different ids does, and a test answer sitting in train under
    * another id is exactly what [[graft.operators.Decontamination]]
    * exists to catch post hoc; this audits the release itself). One
    * row per leaking digest: how many documents carry it, how many
    * splits it straddles, the splits (sorted CSV — the split set is
    * release-constant, so the collected set is bounded by
    * construction), and the smallest carrying id.
    *
    * Scale shape: one narrow digest projection, ONE digest-keyed agg
    * (collect_set bounded by #splits), a post-agg filter — no joins,
    * no windows; output is leak-sized.
    */
  def splitLeakage(
      released: DataFrame,
      idCol: String = "doc_id",
      splitCol: String = "split",
      textCol: String = "text"): DataFrame = {
    released.select(col(idCol).cast("long").as("doc_id"),
        col(splitCol).cast("string").as("split"),
        md5(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        size(collect_set(col("split"))).cast("int").as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"),
        min("doc_id").as("first_doc"))
      .filter(col("n_splits") > 1)
      .select(col("digest"), col("n_docs"), col("n_splits"), col("splits"),
        col("first_doc"))
  }
}
