package graft

import org.apache.spark.sql.functions.col

/** Physical-plan quality gates: the properties that make these queries
  * survive a 100x scale-up. A regression here (lost pushdown, a
  * broadcast turning into a shuffle join, a global sort appearing under
  * a limit) is a perf bug even while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q1: scan reads only the needed columns") {
    val p = plan("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema) // pruned
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q1: aggregation runs inside whole-stage codegen with partial agg") {
    val p = plan("q1_agg")
    // map-side combine: partial aggregation below the exchange
    assert(p.contains("partial_sum"), p)
    // codegen spans only materialize in the AQE final plan -> execute
    // first; "*(n)" is the WholeStageCodegen marker in simpleString
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q3: filtered part dimension is broadcast") {
    assert(plan("q3_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q4: large-large join is sort-merge") {
    assert(plan("q4_sortmerge_join").contains("SortMergeJoin"))
  }

  test("q6: semi/anti joins stay semi/anti (no materialized distinct)") {
    val p = plan("q6_semi_anti")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q9: filters pushed on all three tables before the joins") {
    val p = plan("q9_topk_revenue")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
  }

  test("q14: global top-k uses TakeOrderedAndProject, not a full sort") {
    val p = plan("q14_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q7b: pure theta join on dimensions is broadcast nested loop") {
    assert(plan("q7b_theta_join").contains("BroadcastNestedLoopJoin"))
  }

  // ---- pipeline operators: the scale shape must not silently regress ---

  /** The dedup/ANN operators bucket their candidates; none of them may
    * ever plan a cartesian/corpus-sized nested loop. (dd5 and ann_brute
    * are the declared brute-force oracle baselines and are exempt.)
    */
  test("dedup + ANN bucketed operators never go cartesian") {
    Seq("dd2_minhash_lsh", "dd3_ngram_jaccard", "dd4_simhash",
      "dd5b_embedding_lsh", "dd6_winnow_fragments", "dd16_containment",
      "dd18_minhash_calibration", "ann_lsh_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian join")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested loop")
    }
  }

  /** Unwrap AQE so node-level assertions see the final physical plan. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  test("ann_lsh: probe-ring explode runs on the query side, never the corpus") {
    // Hermetic input: sibling suites cache Tables.embeddings in the shared
    // session, and Spark's CacheManager + AQE stage reuse then substitute
    // plan fragments globally, hiding scans/exchanges from the plan
    // string. A uniquely-pathed copy can never match a cached fragment.
    val tmp = java.nio.file.Files.createTempDirectory("lsh-plan").toString
    graft.sources.Tables.embeddings(spark, sf).write.parquet(s"$tmp/emb")
    val df = graft.operators.Similarity.lshTopK(
      spark.read.parquet(s"$tmp/emb"), queryIds = Seq(0L, 1L, 2L, 3L, 4L))
    // (string assertions: AQE query-stage boundaries hide nodes from
    // plan.collect, but the final plan string includes every stage)
    val p = finalPlan(df).toString
    val nGenerates = "Generate explode".r.findAllIn(p).length
    assert(nGenerates === 1, s"exactly one explode expected in:\n$p")
    // the explode's output carries qbucket -> it runs on the (5-row,
    // id-filtered, broadcast) query branch; the corpus branch has no
    // qbucket column and is scanned exactly once, unexploded
    assert(p.linesIterator.exists(l =>
      l.contains("Generate explode") && l.contains("qbucket")), p)
    assert(p.contains("In(vec_id, [0,1,2,3,4])"), "query-id pushdown missing")
  }

  test("ann_lsh/ann_ivf/ann_ivfpq: corpus joins against broadcast probes (one corpus pass)") {
    Seq("ann_lsh_topk", "ann_ivf_topk", "ann_ivfpq_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: probe join must broadcast")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian join")
    }
  }

  test("dd2: candidates ride ONE band-keyed aggregation, not a banded self-join") {
    // r20 shape: the (band, band_hash) frame groups once under the
    // size-bounded collect and each surviving bucket explodes its own
    // pairs — so the band hash must appear in EXACTLY ONE exchange (the
    // old self-join form planned the banded subtree per side whenever
    // exchange reuse failed to fire, the r19 dd16 forensic). The verify
    // joins on (da/db) stay keyed equi-joins — never theta/cross.
    val p = plan("dd2_minhash_lsh")
    assert(p.contains("band_hash"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    val bandEx = p.linesIterator.count(l =>
      l.contains("hashpartitioning(band") && l.contains("band_hash"))
    assert(bandEx <= 1, s"banded subtree exchanged $bandEx times:\n$p")
  }

  test("dc1: eval shingle set broadcasts (map-side hit join), no cartesian") {
    val p = plan("dc1_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dc2: under-cap deployment form is ONE narrow corpus pass — zero joins") {
    // overlapWith's broadcast-set path counts hits against the set in
    // place: no shingle explode, no hit join, no per-doc aggregation.
    // The only exchange is the QueryDef wrapper's oracle-edge sort.
    val p = plan("dc2_overlap_with")
    assert(!p.contains("Exchange hashpartitioning"), s"dc2 planned a shuffle:\n$p")
    assert(!p.contains("Join"), s"dc2 planned a join:\n$p")
  }

  test("txt_repetition, mm_decode, txt_redact stay narrow: no hash shuffle anywhere") {
    Seq("txt_repetition", "mm_decode", "txt_redact").foreach { q =>
      val p = plan(q)
      // per-row work only; the sole exchange is the QueryDef wrapper's
      // determinism sort (range partitioning at the oracle edge)
      assert(!p.contains("Exchange hashpartitioning"), s"$q planned a shuffle:\n$p")
    }
  }

  /** Round-6 gate: operator APIs must not embed output sorts. A global
    * ORDER BY inside an operator is an `Exchange rangepartitioning` +
    * full sort of a corpus-sized output at 100 TB; determinism sorts
    * belong to the QueryDef wrappers (the oracle edge) only. The pure
    * narrow projections must plan ZERO exchanges of ANY kind when
    * called bare.
    */
  test("bare narrow operators plan zero exchanges (sorts live at the oracle edge only)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val fmt = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    val bare = Seq(
      "Sampling.hashSplit" -> graft.operators.Sampling.hashSplit(docs),
      "TextAnalysis.redactPii" -> graft.operators.TextAnalysis.redactPii(docs),
      "TextAnalysis.quality" -> graft.operators.TextAnalysis.quality(docs),
      "TextAnalysis.tokenCounts" -> graft.operators.TextAnalysis.tokenCounts(docs),
      "TextAnalysis.fingerprint" -> graft.operators.TextAnalysis.fingerprint(docs),
      "TextAnalysis.normalize" -> graft.operators.TextAnalysis.normalize(docs),
      "Sampling.stratifiedSample" -> graft.operators.Sampling.stratifiedSample(
        docs, graft.queries.DataPipeline.Sp4Rates))
    bare.foreach { case (name, df) =>
      val p = df.queryExecution.explainString(fmt)
      assert(!p.contains("Exchange"), s"$name planned an exchange:\n$p")
    }
  }

  /** Bare ANN calls: per-query ranked top-k needs only the partitioned
    * rank window — a global (qid, rnk) output sort would add a range
    * exchange over k x |queries| rows, corpus-sized in batch-ANN use.
    * The determinism sort lives in the QueryDef wrappers.
    */
  test("bare ANN operators never plan a range exchange") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val fmt = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    Seq(
      "Similarity.bruteForceTopK" ->
        graft.operators.Similarity.bruteForceTopK(emb, Seq(0L, 1L)),
      "Similarity.lshTopK" ->
        graft.operators.Similarity.lshTopK(emb, Seq(0L, 1L)),
      "IvfSearch.ivfTopK" ->
        graft.operators.IvfSearch.ivfTopK(emb, Seq(0L, 1L))
    ).foreach { case (name, df) =>
      val p = df.queryExecution.explainString(fmt)
      assert(!p.contains("Exchange rangepartitioning"),
        s"$name planned a range exchange (embedded output sort?):\n$p")
    }
  }

  /** The spread-guarded typed maps may carry ONE round-robin exchange at
    * small partition counts (the single-file-corpus guard — a no-op at
    * scale where input partitions >= cores); they must never plan a
    * range or hash exchange. The windowed sampling ops shuffle once on
    * their partition key and must never add a range exchange on top.
    */
  test("bare spread/windowed operators never plan a range exchange") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val fmt = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    Seq(
      "TextAnalysis.repetition" -> graft.operators.TextAnalysis.repetition(docs),
      "TextAnalysis.languageId" -> graft.operators.TextAnalysis.languageId(docs),
      "TextAnalysis.bpeTokenize" -> graft.operators.TextAnalysis.bpeTokenize(
        docs, Seq(("e", "r"), ("i", "n"))),
      "TextAnalysis.tfIdf" -> graft.operators.TextAnalysis.tfIdf(docs),
      "Sampling.quotaPerKey" -> graft.operators.Sampling.quotaPerKey(docs),
      "Sampling.packSequences" -> graft.operators.Sampling.packSequences(docs)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.explainString(fmt)
      assert(!p.contains("Exchange rangepartitioning"),
        s"$name planned a range exchange (embedded output sort?):\n$p")
    }
  }

  test("txt_vocab: global top-K is TakeOrdered with partial agg, no full sort") {
    val p = plan("txt_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("partial_count"), p)
  }

  test("txt_bigrams: global top-K is TakeOrdered with partial agg, no full sort") {
    val p = plan("txt_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("partial_count"), p)
  }

  test("sp3: weighted downsample is a pure narrow projection+filter (no exchange)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.Sampling.weightedDownsample(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"sp3 planned an exchange:\n$p")
  }

  test("sp10: epoch upsample is one narrow pass — generate, no exchange, no collect") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.Sampling.epochUpsample(
        docs, Seq("src0" -> 2300L, "src1" -> 500L))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"sp10 planned an exchange:\n$p")
    assert(p.contains("Generate"), s"copy fan-out must be a generator:\n$p")
  }

  test("dd15: loaded index rides a parquet scan — the probe side never re-signatures") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val dir = java.nio.file.Files.createTempDirectory("bands-gate").toString
    graft.operators.TrainingPipeline.writeMinhashBands(corpus, dir)
    val loaded = graft.operators.TrainingPipeline.loadMinhashBands(spark, dir)
    val p = graft.operators.Dedup.incrementalNearDup(batch, corpus, loaded)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the candidate join's index side is the persisted parquet, not a
    // recomputed signature stage
    assert(p.contains("minhash_bands"),
      s"index side must scan the persisted band parquet:\n$p")
    // exactly two typed signature passes remain: the batch and the
    // LeftSemi-bounded candidate-corpus verify — never a third over the
    // full released corpus for banding
    val typedPasses = "\\(\\d+\\) MapPartitions|\\(\\d+\\) SerializeFromObject"
      .r.findAllIn(p).length
    assert(typedPasses <= 4, // 2 passes x (map + serialize) nodes
      s"unexpected extra typed stages (corpus re-signatured?):\n$p")
    assert(p.contains("LeftSemi") && !p.contains("CartesianProduct"), p)
  }

  test("ir3: loaded BM25 index rides a parquet scan — probe never rebuilds postings") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("bm25-gate").toString
    graft.operators.TrainingPipeline.writeBm25Index(corpus, dir)
    val loaded = graft.operators.TrainingPipeline.loadBm25Index(spark, dir)
    import spark.implicits._
    val queries = Seq((0L, "the"), (1L, "data")).toDF("qid", "term")
    val p = graft.operators.TextAnalysis.probeBm25(loaded, queries)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("bm25_postings"),
      s"probe must scan the persisted postings parquet:\n$p")
    // the ONLY Generate allowed is the posexplode that unrolls the
    // bounded top-k array back into ranked rows — a SECOND Generate
    // would mean the probe re-tokenized released text. Formatted plans
    // print the node as "(N) Generate" with the generator on its own
    // Arguments line, so match the numbered node, not a contiguous
    // "Generate explode" string (which never appears in this mode)
    val generates = "\\(\\d+\\) Generate".r.findAllIn(p).size
    assert(generates == 1,
      s"probe must have exactly ONE Generate (the top-k posexplode); " +
        s"found $generates — an extra one means re-tokenized text:\n$p")
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
    // ranking is the partial top-k aggregate, never a qid-partitioned
    // rank window (parallelism there caps at the query count — the r14
    // ir1 scale flag)
    assert(!p.contains("Window"),
      s"probe ranking must be the bounded top-k aggregate, not a rank window:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("gr5: triangle counting is keyed joins — no window, no cartesian") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.GraphRank.triangleStats(
        graft.operators.GraphRank.documentLinkEdges(corpus))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"),
      s"triangleStats must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"wedge/closing joins must stay keyed:\n$p")
  }

  test("ir4: query-likelihood inherits ir1's shape — broadcast fixture, no window, no cartesian") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.qlTopK(corpus)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"),
      s"qlTopK must rank via TopKScoredAgg, not a qid rank window:\n$p")
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"fixture/cf/ctot joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ir1: bm25 ranking is a partial top-k aggregate, not a rank window") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.bm25TopK(corpus)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the window form capped parallelism at nQueries and sorted every
    // candidate per qid; the aggregator form partial-aggregates to <= k
    // entries per (partition, qid) before the exchange
    assert(!p.contains("Window"),
      s"bm25TopK must rank via TopKScoredAgg, not a qid rank window:\n$p")
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cl4b: dbscan over LSH pairs plans no cartesian and no window") {
    spark.catalog.clearCache()
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.operators.Clustering.dbscan(emb,
        pairs = Some(graft.operators.Similarity.lshNearDupPairs(
          emb, threshold = 0.35)))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the production evidence-graph path: pair generation is the banded
    // bucket join (grouped flatMap, never an all-pairs product) and
    // everything downstream of pairs is keyed aggs/joins + size-gated
    // CC — no per-key rank window anywhere
    assert(!p.contains("CartesianProduct"),
      s"dbscan/LSH must never plan an all-pairs product:\n$p")
    assert(!p.contains("Window"),
      s"dbscan must be keyed aggregates, not windows:\n$p")
  }

  test("ir2: rrf fusion is dual bounded top-k aggregates, not rank windows") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.rrfFusionTopK(corpus)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // pre-r16 form ranked BOTH lists and the fused list via per-qid
    // rank windows — parallelism capped at nQueries and every posting
    // sorted per qid; the cutoff form must plan zero Window nodes
    assert(!p.contains("Window"),
      s"rrf fusion must rank via bounded top-k aggregates, not rank windows:\n$p")
    // r18: rank recovery moved INSIDE the single typed fusion pass over
    // the dual top-R rows (one row per query, O(rankCutoff) entries) —
    // the plan must carry exactly ONE typed stage and zero Generates
    // (an unroll/re-aggregate/join-back tail would reappear as
    // Generate + extra exchanges; a second typed stage would mean
    // corpus-sized rows entered object space)
    val typedStages = "\\(\\d+\\) DeserializeToObject".r.findAllIn(p).size
    assert(typedStages == 1,
      s"fusion must be the single typed pass over dual top-R rows, " +
        s"found $typedStages DeserializeToObject:\n$p")
    // the corpus tokenize explode (re-printed under cached subtrees) is
    // the only Generate family allowed; a posexplode would mean the
    // unroll/re-aggregate/join-back tail came back
    assert(!p.contains("posexplode"),
      s"no unroll posexplode may survive — ranks come from array positions:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd15: corpus verify side is semi-joined to candidates, no cartesian") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val p = graft.operators.Dedup.incrementalNearDup(batch, corpus,
        corpusBands = graft.operators.Dedup.minhashBands(corpus))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    // released corpus shingles are recomputed only for candidate docs
    assert(p.contains("LeftSemi"),
      s"corpus verify side must be candidate-bounded via LeftSemi:\n$p")
  }

  test("rl3: exact quantiles are one group-keyed agg with partial aggregation, no sort") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.lengthQuantiles(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange rangepartitioning"), s"rl3 planned a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // partial-before-exchange: the percentile buffers merge map-side
    assert(p.contains("partial_percentile") || p.contains("Partial"),
      s"rl3 lost partial aggregation:\n$p")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges === 1, s"expected one group-key exchange, got $exchanges:\n$p")
  }

  test("sp11: mixture audit never materializes copies and broadcasts the totals") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.Sampling.mixtureAudit(
        docs, Seq("src0" -> 2300L, "src1" -> 500L))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Generate"), s"audit must stay arithmetic, no copy fan-out:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must ride a broadcast:\n$p")
  }

  test("sp5: domain mixture corpus pass is a pure narrow projection+filter (no exchange)") {
    // the counts aggregation runs once at build time (dimension-sized);
    // the RETURNED corpus plan must be scan+project+filter only
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.Sampling.domainMixture(
        docs, graft.queries.DataPipeline.Sp5Weights)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"sp5 planned an exchange:\n$p")
  }

  test("txt_c4: line filter is one narrow typed map — no hash or range exchange") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.c4LineFilter(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange hashpartitioning"), s"txt_c4 planned a shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"txt_c4 planned a sort:\n$p")
  }

  test("dd10: semantic dedup pair work is cell-bucketed — no cartesian, no nested loop") {
    val p = plan("dd10_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"dd10 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"dd10 planned a nested loop:\n$p")
  }

  test("dd7: bloom probe prefilters BEFORE the confirm join; equi semi-join; no cartesian") {
    val p = plan("dd7_bloom_dedup")
    assert(p.contains("bloom_might_contain"), s"prefilter probe missing from plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"confirm must be a semi-join:\n$p")
  }

  test("dd7: bare operator never shuffles the corpus — broadcast-only confirm") {
    // The scale property the sketch exists for: an incremental batch
    // must not re-shuffle the (100 TB) corpus. Both confirm passes are
    // BroadcastHashJoins with the tiny candidate set as build side, so
    // the bare plan contains ZERO hash-partition exchanges anywhere —
    // the corpus text column is scanned narrowly, streamed, never
    // exchanged. (The wrapped query adds only the oracle-edge sort.)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val p = graft.operators.Dedup.bloomPrefilterDedup(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"dd7 confirm shuffled data:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected two broadcast confirm passes:\n$p")
    assert(p.contains("bloom_might_contain"), p)
  }

  test("dd9: hot-paragraph set broadcasts; no cartesian; one explode") {
    val p = plan("dd9_paragraph_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the flagging join's build side is the tiny over-cap set — it must
    // broadcast, never shuffle the corpus-sized paragraph frame into a
    // keyed join against it
    assert(p.contains("BroadcastHashJoin"), s"hot-set join must broadcast:\n$p")
    // one paragraph explode feeding everything (persist discipline)
    spark.catalog.clearCache()
    val p2 = plan("dd9_paragraph_dedup")
    val explodes = "Generate posexplode \\((\\d+)\\)".r
      .findAllMatchIn(p2).map(_.group(1)).toSet
    assert(explodes.size <= 1, s"expected one distinct explode node, got $explodes")
  }

  test("mm_dhash: banded equi-join, never all-pairs") {
    val p = plan("mm_dhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the signature self-join must be an equi join on (band, byte_val)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("mm_video: frame-signature equi-join, never all-pairs") {
    val p = plan("mm_video_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("rf1: refresh never shuffles the released corpus — sketch probe + broadcast confirm") {
    // The incremental contract: a weekly batch must not pay a
    // corpus-scale exchange. The released side contributes its sketch
    // (a treeAggregate, not in this plan) and the narrow confirm scan;
    // every Exchange in the refresh plan is keyed on the batch's id or
    // digest, never on a text column (a text-keyed exchange would mean
    // corpus rows crossing the wire).
    val p = plan("rf1_corpus_refresh")
    assert(p.contains("bloom_might_contain"),
      s"corpus-dup drop must prefilter through the sketch probe:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val textExchanges = "Exchange hashpartitioning\\((?:text|t)#"
      .r.findAllIn(p).toSeq
    assert(textExchanges.isEmpty,
      s"refresh shuffled document text: $textExchanges\n$p")
  }

  test("pipe1: corpus parquet scanned ONCE across the whole composed pipeline") {
    // The composition evidence: six chained stages (normalize, filter,
    // dedup, decontaminate, split, pack) fan out from the corpus many
    // times, but the persist discipline means every consumer reads a
    // cache — the formatted plan re-prints the cached subtree under
    // each InMemoryTableScan, so count DISTINCT FileScan node ids, not
    // occurrences: exactly one physical parquet scan must exist.
    // clearCache first: a stale cross-suite cache entry matching one of
    // the pipeline's subtrees would substitute its own stored FileScan
    // node (the harness contract is cache-per-query anyway).
    spark.catalog.clearCache()
    val p = plan("pipe1_training_pipeline")
    val scanIds = "Scan parquet[^(\\n]*\\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size === 1,
      s"expected ONE distinct corpus FileScan node, got ids $scanIds")
    // persisted stage boundaries: norm, filtered, clean (+ operator-
    // internal signature/shingle caches) each appear as cache reads
    val cacheIds = "InMemoryTableScan \\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(cacheIds.size >= 3,
      s"expected >= 3 distinct persisted stages, got ids $cacheIds")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("txt_tfidf: term join keys are equi, N is broadcast") {
    val p = plan("txt_tfidf")
    assert(!p.contains("CartesianProduct"), p)
    // the single-row corpus count joins in as a broadcast nested loop
    // (trivially sized) or literal; the term join must be an equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("txt_tfidf: tf persists — tokenize/explode materializes exactly once") {
    val p = plan("txt_tfidf")
    // tf feeds two consumers (df agg + join left side); the persist means
    // both read the cache instead of re-running the explode+agg chain.
    // Assert the consumer count, never formatted-string node ids: under
    // cross-suite cache/AQE state the cached subtree prints under each
    // consumer with freshly numbered ids, but the two InMemoryTableScan
    // reads (one per consumer) are invariant — and two cache reads imply
    // the explode chain beneath ran exactly once, at materialization.
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 2,
      s"expected both tf consumers to read the cache, got $scans scans:\n$p")
  }

  /** BM25's scoring side must stay keyed: query terms broadcast into the
    * postings join, the stats row is a singleton broadcast, the per-qid
    * top-k window partitions by qid, and the per-doc sum combines
    * map-side (the integer micro-credit claim depends on partial sums).
    */
  test("ir1_bm25: broadcast query terms, partial integer sum, qid-keyed window") {
    val p = plan("ir1_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"qterms join must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"micro-credit sum must combine map-side:\n$p")
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 3,
      s"expected the three tf consumers to read the cache, got $scans:\n$p")
  }

  /** The fusion adds one vocabulary-keyed equi-join (the norm side) on
    * top of ir1's shape — still no cartesian, still map-side partial
    * sums, and the doc-keyed norm join must be an equi-join.
    */
  test("ir2_rrf: fusion keeps keyed joins and map-side partial sums") {
    val p = plan("ir2_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"qterms join must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"credit sums must combine map-side:\n$p")
  }

  test("ann_ivf: probe filter is a visible column predicate (like ann_lsh)") {
    val p = plan("ann_ivf_topk")
    // the typed-closure form hid the query-id filter from Catalyst; the
    // column isin must surface as a pushable IN predicate on the probe
    // pass over the cached projection. The expected literal list derives
    // from the registered fixture ids so the two can't silently diverge.
    val ids = graft.queries.DataPipeline.AnnQueryIds.mkString(",")
    assert(p.contains(s"IN ($ids)") || p.contains(s"In(id, [$ids])")
      || p.contains(s"id IN ($ids)"),
      s"query-id IN ($ids) predicate missing from probe pass:\n$p")
  }

  test("loaded PQ codes probe as a parquet scan — released vectors never re-encode") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val released = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150)
    val dir = java.nio.file.Files.createTempDirectory("pq-gate").toString
    graft.operators.TrainingPipeline.writePqIndex(released, dir)
    val (model, codes) = graft.operators.TrainingPipeline.loadPqIndex(spark, dir)
    val p = graft.operators.PqSearch.probePqCodes(batch, model, codes)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("pq_codes"),
      s"probe side must scan the persisted codes parquet:\n$p")
    // zero typed encode passes in the probe plan: the corpus is its
    // codes; the batch side is driver-collected fixture tables
    assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
      s"probe plan re-encodes vectors:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("over-cap PQ probe: fallback plan keeps the batch off the driver") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val released = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150)
    val model = graft.operators.PqSearch.fitPqModel(released)
    val codes = graft.operators.PqSearch.encodePq(released, model)
    val p = graft.operators.PqSearch.probePqCodes(batch, model, codes,
        maxDriverBatchRows = 1)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the broadcast path materializes the collected batch back as a
    // LocalTableScan (probes) + a UDF over driver-built tables; the
    // fallback must instead derive probes and ADC tables from the batch
    // scan itself and score through a partial-agg integer sum
    assert(!p.contains("LocalTableScan"),
      s"fallback plan still carries a driver-collected frame:\n$p")
    assert(p.contains("partial_sum"),
      s"fallback ADC sum must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ann_pq_incremental: probe joins broadcast against the code frame, no cartesian") {
    val p = plan("ann_pq_incremental")
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tok4: the returned Viterbi pass is narrow — vocab agg ran eagerly") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.unigramTokenize(docs,
        Seq(("a", "b"), ("ab", "c")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the bootstrap count agg (the only keyed exchange) is consumed at
    // construction; the returned frame is one typed pass over the corpus
    assert(!p.contains("hashpartitioning"),
      s"tok4's returned pass must not re-shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("ann_pq_residual: cell-pruned broadcast probe, no cartesian") {
    val p = plan("ann_pq_residual")
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dc6: Min-K selection plans with no window sort — one doc-keyed agg") {
    // the shipped formulation folds the occurrence budget inside the
    // aggregate; a Window reappearing means the sort-exchange variant
    // regressed back in (measured slower: 1.49-1.58 s vs 1.34 s at sf0.1)
    val p = plan("dc6_mink_prob")
    assert(!p.contains("Window"), s"dc6 must not plan a window:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"doc-keyed agg must combine map-side:\n$p")
  }

  test("ann_pq: ADC scoring is join-free — one narrow pass then the bounded top-k") {
    // PQ's whole point: after encode, scoring is per-row table lookups
    // against broadcast distance tables. Any join/cartesian appearing in
    // the returned plan means the ADC scan regressed to a pair join.
    val p = plan("ann_pq_topk")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "CartesianProduct", "BroadcastNestedLoopJoin").foreach { j =>
      assert(!p.contains(j), s"ann_pq scoring plan must not contain $j:\n$p")
    }
    // ranking is the bounded partial top-k aggregate (TopK), never a
    // qid rank window whose parallelism caps at the query count
    assert(!p.contains("Window"),
      s"ann_pq must rank via the bounded top-k aggregate, not a window:\n$p")
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
  }

  /** Logical-plan windows: the physical WindowExec hides behind
    * AdaptiveSparkPlanExec/QueryStageExec boundaries (TreeNode.collect
    * does not traverse them, so a physical collect is silently EMPTY
    * under AQE and `forall` passes vacuously). The ANALYZED plan is the
    * right level twice over: no AQE wrapping, and persisted mid-query
    * frames are still their full subtrees (the optimized plan swaps a
    * cache hit for an InMemoryRelation LEAF, hiding the window the
    * author wrote — the r19 q12b persist exposed this).
    */
  private def logicalWindows(q: String) =
    SparkEntry.queries(q)(spark, sf).queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("q12b: no unpartitioned window over the big input") {
    val windows = logicalWindows("q12b_distribution")
    assert(windows.nonEmpty, "q12b should plan windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q12b must not plan a global (single-task) window")
  }

  test("sp1: hash split is a pure narrow projection (no hash shuffle)") {
    val p = plan("sp1_hash_split")
    assert(!p.contains("Exchange hashpartitioning"), s"sp1 planned a shuffle:\n$p")
  }

  test("sp2/pk1: quota and packing windows are partitioned, never global") {
    Seq("sp2_quota_sample", "pk1_pack_sequences").foreach { q =>
      val windows = logicalWindows(q)
      assert(windows.nonEmpty, s"$q should plan a window")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$q must not plan a global (single-task) window")
    }
  }

  test("pk4/txt_encoding: FIM transform and encoding screen are pure narrow passes") {
    val docs = graft.sources.Tables.documents(spark, sf)
    Seq(
      "pk4" -> graft.operators.Sampling.fimTransform(docs),
      "txt_encoding" -> graft.operators.TextAnalysis.encodingQuality(docs)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), s"$name planned an exchange:\n$p")
    }
  }

  test("sp8: token-budget window is partitioned by the stratum, never global") {
    val windows = logicalWindows("sp8_token_budget")
    assert(windows.nonEmpty, "sp8 should plan a window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "sp8 must not plan a global (single-task) window")
  }

  test("dd11: url dedup is keyed hash aggs with map-side partials, no join") {
    val p = plan("dd11_url_dedup")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), s"dd11 must not plan any join:\n$p")
    // exact countDistinct plans the standard two-phase distinct agg:
    // shuffle on (canonical, url) then on canonical — both keyed, both
    // with map-side partials; anything beyond that (or a range exchange
    // before the oracle edge sort) is a regression
    val hashEx = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 2, s"dd11 grew extra shuffles:\n$p")
  }

  test("dd12: span detection is semi-join + per-doc window — no cartesian, no unpartitioned window") {
    val p = plan("dd12_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // duplicated-gram positions survive via LeftSemi: hot grams must
    // never fan positions out (a plain inner join against a gram with
    // df copies would)
    assert(p.contains("LeftSemi"), s"dd12 hit filter must be a semi-join:\n$p")
    // the islands window runs per-doc; a missing partitionBy plans a
    // single-partition window over the whole corpus
    assert(!p.contains("SinglePartition"),
      s"dd12 planned a single-partition (global) window or exchange:\n$p")
  }

  test("txt_ppl: LM scoring joins stay equi/broadcast — no cartesian pair work") {
    val p = plan("txt_ppl")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the (N, V) single-row broadcast; the
    // token-count join itself must be hash-based
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
    // Zipf-skew hardening: the token stream must collapse to
    // (doc_id, w, k) BEFORE the count join — a (doc_id, w)-keyed
    // aggregate caps a hot token at one probe row per doc
    assert(p.linesIterator.exists(l =>
        l.contains("Keys") && l.contains("doc_id") && l.contains("w#")),
      s"txt_ppl lost the (doc_id, w) pre-aggregate:\n$p")
  }

  test("txt_ppl2: bigram scoring keeps the per-doc pre-aggregate, no cartesian") {
    val p = plan("txt_ppl2")
    assert(!p.contains("CartesianProduct"), p)
    // (doc_id, ha, hb) collapse before any corpus-count join — a hot
    // bigram costs one probe row per doc (keys are the xxhash64 token
    // hashes, so the exchanges carry longs, not strings)
    assert(p.linesIterator.exists(l =>
        l.contains("Keys") && l.contains("doc_id") &&
          l.contains("ha#") && l.contains("hb#")),
      s"txt_ppl2 lost the (doc_id, ha, hb) pre-aggregate:\n$p")
  }

  test("txt_ppl1b: frozen-LM scoring keeps the (doc, w) pre-aggregate") {
    val p = plan("txt_ppl1b")
    assert(!p.contains("CartesianProduct"), p)
    // same Zipf armor as txt_ppl: the token stream collapses to
    // (doc_id, w, k) before probing the frozen count table
    assert(p.linesIterator.exists(l =>
        l.contains("Keys") && l.contains("doc_id") && l.contains("w#")),
      s"txt_ppl1b lost the (doc_id, w) pre-aggregate:\n$p")
  }

  test("dc4: semantic decontamination broadcasts the eval side — corpus streams once") {
    val p = plan("dc4_semantic")
    // the dimension-sized eval side rides a broadcast nested loop (the
    // q7b shape — deliberate: scoring is a dense all-pairs against a
    // broadcast side); what must never appear is a shuffled/cartesian
    // product of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cl2: balanced sample = spread + window exchanges only, quota pushed below") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.operators.Clustering.clusterBalancedSample(emb, quota = 5, k = 4)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), s"quota must reuse the assignment frame, not re-join:\n$p")
    // exactly two exchanges: kmeans' deliberate spread repartition and
    // the cluster-keyed window — no join or agg shuffle beyond them
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges === 2, s"expected spread + window exchanges only, got $exchanges:\n$p")
    // the rank-limit pushes down: a PARTIAL WindowGroupLimit runs before
    // the exchange, so at most `quota` rows per cluster leave each map
    // partition — the property that keeps the window cheap at corpus scale
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"quota filter must push a partial WindowGroupLimit below the exchange:\n$p")
  }

  test("ds1: DSIR scoring joins the broadcast log-ratio table, TakeOrdered cut") {
    val p = plan("ds1_dsir")
    assert(p.contains("BroadcastHashJoin"), s"lambda table must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must be a bounded heap, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("txt_ppl: planted Zipf head — pre-agg halves probe rows, AQE resolves the count join") {
    import spark.implicits._
    // 300 docs, each with the hot token at >50% of positions plus a
    // per-doc unique tail — the adversarial shape for a token-keyed join
    val docs = (0 until 300).map { i =>
      val hot = Seq.fill(40)("the")
      val tail = (0 until 20).map(j => s"w${i}_$j")
      (i.toLong, (hot ++ tail).mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the (doc_id, w) collapse is the skew armor: the hot token costs
    // one probe row per doc, not one per occurrence — on this fixture
    // that's a >= 2x row reduction into the join
    val tokRows = docs.select(org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("w")).count()
    val dtokRows = docs.select(col("doc_id"), org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .distinct().count()
    assert(tokRows === 300L * 60)
    assert(dtokRows * 2 <= tokRows,
      s"pre-agg must at least halve join input on the Zipf fixture: $dtokRows vs $tokRows")
    // with AQE on (session default), the vocab-sized count table must
    // resolve to a broadcast join (or, at larger scale, a skew join) —
    // never a plain shuffled join carrying the hot key in one partition
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val df = graft.operators.TextAnalysis.unigramLogProb(docs)
    val p = finalPlan(df).toString
    assert(p.contains("BroadcastHashJoin") || p.contains("skew=true"),
      s"txt_ppl count join resolved to neither broadcast nor skew-join:\n$p")
    docs.unpersist()
  }

  test("txt_ppl2: history fold removes the single-key pa exchange (broadcast path)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.bigramLogProb(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the c1 history table is broadcast into the (ha, hb) join — the
    // scored frame must never re-shuffle keyed on the history token
    // hash alone (the single-key exchange where the Zipf head
    // reappears); (ha, hb) pair exchanges remain
    val singleKeyHa = """hashpartitioning\(ha#\d+, \d+\)""".r
    assert(singleKeyHa.findFirstIn(p).isEmpty,
      s"txt_ppl2 still exchanges on the raw history token:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"c1 fold must broadcast:\n$p")
  }

  test("sp9: curriculum assignment is a pure narrow projection — zero exchanges bare") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.Sampling.curriculum(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"sp9 planned an exchange:\n$p")
  }

  test("rl2: corpus card joins the dimension-sized vocab side broadcast — no cartesian") {
    val p = plan("rl2_corpus_card")
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd12b: drop decision inherits dd12's shape — semi-join hits, no cartesian") {
    val p = plan("dd12b_span_drop")
    assert(p.contains("LeftSemi"), s"dd12b hit filter must be a semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd14: consensus adds only keyed joins to the banded pair frame — no cartesian") {
    val p = plan("dd14_consensus_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the lexical-only planted pair must actually exist and be filtered
    // BY THE COSINE, not by fixture accident — asserted on results:
    val rows = SparkEntry.queries("dd14_consensus_neardup")(spark, sf).collect()
    assert(rows.exists(r => r.getLong(0) == 9000L && r.getLong(1) == 9001L))
    assert(!rows.exists(r => r.getLong(0) == 9100L),
      "orthogonal-embedding twins must fail consensus")
    import spark.implicits._
    val lex = graft.operators.Dedup.minhashLsh(
      Seq((9100L, "qd zero qd one qd two qd three qd four"),
        (9101L, "qd zero qd one qd two qd three qd four"))
        .toDF("doc_id", "text"))
      .collect()
    assert(lex.exists(r => r.getLong(0) == 9100L && r.getLong(1) == 9101L),
      "the twins ARE a lexical pair — consensus is what excludes them")
  }

  test("pipe2: screen-and-phase composition plans no cartesian and no global sort") {
    val p = plan("pipe2_screen_and_phase")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"),
      s"pipe2 planned a single-partition window or exchange:\n$p")
  }

  test("txt_entropy: char stats are one narrow typed pass — zero hash/range exchange") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.charStats(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange hashpartitioning"), s"txt_entropy planned a shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"txt_entropy planned a sort:\n$p")
  }

  test("txt_clf: hashed classifier is one narrow typed pass — zero hash/range exchange") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TextAnalysis.linearQualityScore(docs)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange hashpartitioning"), s"txt_clf planned a shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"txt_clf planned a sort:\n$p")
    assert(!p.contains("Join"), s"txt_clf planned a join:\n$p")
  }

  // ------------- loaded-artifact gates: a probe against a persisted
  // index must SCAN the artifact parquet, never re-derive it (the
  // dd15/`5efa04a` discipline, extended to every loader)

  test("loaded dhash index probes as a parquet scan — released images never re-decode") {
    implicit val s = spark
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = graft.operators.Multimodal.syntheticPatternImages(
      docs.filter(col("doc_id") < 400))
    val batch = graft.operators.Multimodal.syntheticPatternImages(
      docs.filter(col("doc_id") >= 400))
    val dir = java.nio.file.Files.createTempDirectory("dhash-gate").toString
    graft.operators.TrainingPipeline.writeDhashIndex(corpus, dir)
    val p = graft.operators.Multimodal.dhashIncrementalPairs(batch,
        graft.operators.TrainingPipeline.loadDhashIndex(spark, dir))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("dhash_index"),
      s"index side must scan the persisted parquet:\n$p")
    // one typed CHAIN remains (the batch side: fixture synth +
    // decode + one serializer = 3 nodes); the corpus decode chain is
    // gone — its presence would double the count
    val typed = "\\(\\d+\\) MapPartitions|\\(\\d+\\) SerializeFromObject"
      .r.findAllIn(p).length
    assert(typed <= 3, s"corpus side re-decoded (extra typed stages):\n$p")
  }

  test("loaded audio envelope index probes as a parquet scan") {
    implicit val s = spark
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") < 400).select("doc_id"))
    val batch = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") >= 400).select("doc_id"))
    val dir = java.nio.file.Files.createTempDirectory("audio-gate").toString
    graft.operators.TrainingPipeline.writeAudioEnvelopeIndex(corpus, dir)
    val p = graft.operators.Multimodal.audioIncrementalPairs(batch,
        graft.operators.TrainingPipeline.loadAudioEnvelopeIndex(spark, dir))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("audio_envelope_index"),
      s"index side must scan the persisted parquet:\n$p")
    val typed = "\\(\\d+\\) MapPartitions|\\(\\d+\\) SerializeFromObject"
      .r.findAllIn(p).length
    assert(typed <= 3, s"corpus side re-decoded (extra typed stages):\n$p")
  }

  test("loaded video frame index probes as a parquet scan — one set-build, batch side only") {
    implicit val sess = spark
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf)
    def frames(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.syntheticVideoDocs(d),
        frameBytes = 16, targetFrames = 64).toDF()
    val dir = java.nio.file.Files.createTempDirectory("video-gate").toString
    graft.operators.TrainingPipeline.writeVideoFrameIndex(
      frames(docs.filter(col("doc_id") < 400)), dir,
      frameBytes = 16, targetFrames = 64)
    val p = graft.operators.Multimodal.videoIncrementalPairs(
        frames(docs.filter(col("doc_id") >= 400)),
        graft.operators.TrainingPipeline.loadVideoFrameIndex(spark, dir))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("video_frame_index"),
      s"index side must scan the persisted parquet:\n$p")
    // the per-video signature-SET aggregation appears once (the batch):
    // a second partial+final pair (4 more mentions in formatted
    // output) means the index side re-derived its sets
    assert("collect_set".r.findAllIn(p).length <= 4,
      s"index side re-built its frame sets:\n$p")
  }

  test("prebuilt IVF centroids: building the probe plan runs ZERO fit jobs") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val e = graft.operators.Dedup.spread(emb
        .select(col("vec_id").cast("long").as("id"),
          org.apache.spark.sql.functions.col("embedding")
            .cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
    val fit = graft.operators.IvfSearch.fitCentroids(
      e, nClusters = 16, lloydIter = 3, fitSampleMod = 1)
    val qids = Seq(0L, 1L, 2L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    Thread.sleep(500) // let in-flight listener events from the fit drain
    spark.sparkContext.addSparkListener(listener)
    try {
      jobs.set(0)
      // plan construction only — the fit path would run its
      // sample/collect jobs right here; the prebuilt path must not
      val probe = graft.operators.IvfSearch.ivfTopK(
        emb, qids, prebuiltCentroids = Some(fit))
      probe.queryExecution.executedPlan: Unit
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"prebuilt-centroid plan construction ran ${jobs.get()} setup jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- event analytics / graph rank / text buckets (round 13) ----

  private def fmtPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Sessionize must reuse ONE user-keyed exchange across both window
    * passes and the (user, session) rollup — hash(user_id) satisfies
    * the rollup's clustering since user_id is a prefix of its keys. A
    * second exchange here doubles the operator's shuffle volume at
    * 100 TB; a range exchange would mean an accidental global sort.
    */
  test("ev1: bare sessionize plans exactly one user-keyed hash exchange") {
    val p = fmtPlan(graft.operators.EventAnalytics.sessionize(
      graft.sources.Tables.events(spark, sf), 30))
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n === 1, s"expected one exchange, got $n:\n$p")
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), s"window collapsed to one partition:\n$p")
  }

  test("ev2: funnel pushes the step-type filter into the parquet scan, no cartesian") {
    val p = fmtPlan(graft.operators.EventAnalytics.funnel(
      graft.sources.Tables.events(spark, sf), ("view", "click", "purchase")))
    assert(p.contains("In(event_type"), s"step filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ev3: retention plans keyed exchanges only (no range, no cartesian)") {
    val p = fmtPlan(graft.operators.EventAnalytics.retentionCohorts(
      graft.sources.Tables.events(spark, sf)))
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), s"window collapsed to one partition:\n$p")
  }

  test("ev4: dailyRates is one partial-agg exchange on (window, type)") {
    val p = fmtPlan(graft.operators.EventAnalytics.dailyRates(
      graft.sources.Tables.events(spark, sf)))
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n === 1, s"expected one exchange, got $n:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side combine:\n$p")
    assert(!p.contains("rangepartitioning"), p)
  }

  /** RFM must bucket against broadcast thresholds, never sort the user
    * population through an unpartitioned ntile window (the q12b trap).
    */
  test("ev5: rfm plans no window and no range exchange — thresholds broadcast") {
    val p = fmtPlan(graft.operators.EventAnalytics.rfmScores(
      graft.sources.Tables.events(spark, sf)))
    assert(!p.contains("Window"), s"rfm planned a window:\n$p")
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("Broadcast"), s"threshold row not broadcast:\n$p")
  }

  /** Attribution's pair frame must be a user-keyed equi-join with the
    * lookback window as a join residual — a nested-loop on the time
    * predicate would be quadratic in per-user activity; both event
    * slices must push their type filters into the parquet scan; and the
    * fold-forward shape means the only joins in the whole plan are the
    * pair join itself and the `(none)` singleton-count stitch (no
    * anti-join, no channel-keyed re-joins, no last-touch window sort).
    */
  test("ev8: attribution pushes type filters, pairs on a keyed equi-join") {
    val p = fmtPlan(graft.operators.EventAnalytics.attribution(
      graft.sources.Tables.events(spark, sf)))
    assert(p.contains("In(event_type") || p.contains("EqualTo(event_type"),
      s"type filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("Window"), s"last-touch fold must not plan a window:\n$p")
    val hashJoins = "\\(\\d+\\) (?:Broadcast|Shuffled)HashJoin".r.findAllIn(p).length +
      "\\(\\d+\\) SortMergeJoin".r.findAllIn(p).length
    assert(hashJoins <= 2, s"expected only the pair join (x2 branches), got $hashJoins:\n$p")
  }

  /** The regularity screen's lag window and its per-user rollup share
    * ONE user-keyed exchange (the ev1 rule — hash(user_id) satisfies
    * the rollup's clustering).
    */
  test("ev9: regularity screen plans one user-keyed exchange, no joins") {
    val p = fmtPlan(graft.operators.EventAnalytics.regularityScreen(
      graft.sources.Tables.events(spark, sf)))
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n === 1, s"expected one exchange, got $n:\n$p")
    assert(!p.contains("Join"), s"ev9 must be join-free:\n$p")
    assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"), p)
  }

  /** PageRank's per-iteration joins are keyed equi-joins; a cartesian
    * or nested-loop anywhere in the unrolled plan would be quadratic
    * in the edge list.
    */
  test("gr1: pageRank iterations plan keyed joins only") {
    val e = graft.operators.GraphRank.documentLinkEdges(
      graft.sources.Tables.documents(spark, sf))
    val p = fmtPlan(graft.operators.GraphRank.pageRankFixedPoint(
      e, 2, smallGraphMaxEdges = 0))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("dd17: templateSpam is one shape-keyed exchange, no sort") {
    val p = fmtPlan(graft.operators.Dedup.templateSpam(
      graft.sources.Tables.documents(spark, sf)))
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n === 1, s"expected one exchange, got $n:\n$p")
    assert(!p.contains("rangepartitioning"), p)
  }

  test("emb1: randomProjection is a zero-exchange narrow pass") {
    val p = fmtPlan(graft.operators.Similarity.randomProjection(
      graft.sources.Tables.embeddings(spark, sf)))
    assert(!p.contains("Exchange"), s"randomProjection planned an exchange:\n$p")
  }

  /** One corpus scan for all four signals; the only exchange allowed
    * is `Dedup.spread`'s deliberate round-robin redistribution (the
    * skinny-parquet fan-out repetition/topBigrams also ride) — never a
    * hash or range shuffle.
    */
  test("txt_filter_stack: fused stack is one scan, no keyed shuffle") {
    spark.catalog.clearCache()
    val df = graft.operators.TextAnalysis.filterStack(
      graft.sources.Tables.documents(spark, sf))
    val p = fmtPlan(df)
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"filterStack planned a keyed shuffle:\n$p")
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n <= 1, s"expected at most the spread exchange, got $n:\n$p")
    val scans = "Scan parquet[^(\n]*\\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scans.size <= 1, s"expected one corpus scan, got ${scans.size}:\n$p")
  }

  /** The corpus-side decision must ride a broadcast of the
    * domain-sized threshold table — the corpus itself never shuffles
    * for the sampling decision (the single-row total crossJoin is the
    * accepted broadcast-1-row pattern).
    */
  test("gr2: authority thresholds broadcast onto the corpus, no range exchange") {
    val p = fmtPlan(graft.operators.GraphRank.authoritySample(
      graft.sources.Tables.documents(spark, sf), iters = 2))
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q24: SCD2 intervals plan one user-keyed window, no joins") {
    val p = plan("q24_scd2_intervals")
    assert(!p.contains("SinglePartition"), s"q24 window unpartitioned:\n$p")
    assert(!p.contains("Join"), s"q24 must be join-free:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"window not user-keyed:\n$p")
    // exactly two exchanges: the user-keyed window hash + the QueryDef
    // determinism sort (range) — nothing else may shuffle
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(n === 2, s"expected window + sort exchanges only, got $n:\n$p")
  }

  test("q23/emb3: keyed windows and label rollups never collapse to one partition") {
    val p23 = plan("q23_latest_per_key")
    assert(!p23.contains("SinglePartition"), s"q23 window unpartitioned:\n$p23")
    val p3 = fmtPlan(graft.operators.Similarity.matryoshkaAudit(
      graft.sources.Tables.embeddings(spark, sf)))
    val n = "\\(\\d+\\) Exchange".r.findAllIn(p3).length
    assert(n <= 2, s"matryoshka audit over-shuffles ($n):\n$p3")
    assert(!p3.contains("rangepartitioning"), p3)
  }

  test("txt_topics: bare topicTag is a zero-exchange narrow pass") {
    val p = fmtPlan(graft.operators.TextAnalysis.topicTag(
      graft.sources.Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), s"topicTag planned an exchange:\n$p")
  }

  /** The approx bucket twin is the English-at-web-scale path: the
    * per-language sort (Window/ntile) must NOT appear — thresholds come
    * from a mergeable sketch agg and return via a broadcast join.
    */
  test("txt_ppl3: pplBucketsApprox plans no per-language sort, thresholds broadcast") {
    val p = fmtPlan(graft.operators.TextAnalysis.pplBucketsApprox(
      graft.sources.Tables.documents(spark, sf)))
    assert(!p.contains("Window"), s"approx path still plans a window:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
  }

  /** Round-20 guard-rail (the r19 gr2 regression): no declared query may
    * plan a Coalesce(1) whose subtree reaches a file scan through a
    * narrow chain — that serializes the ENTIRE corpus scan (and every
    * narrow operator on it, including the streamed side of broadcast
    * joins) into ONE task at scale. Legal shapes keep a bound between
    * the scan and the coalesce: a shuffle exchange (the coalesce then
    * collapses only the post-shuffle frame, which orderSmall's contract
    * says is bounded), or a limit/TakeOrdered (row-bounded by
    * construction). BroadcastExchange bounds its OWN branch (broadcast
    * relations are capped), so the build side is safe; the streamed
    * side keeps descending. Swept over every declared query with AQE
    * off so exchanges are visible in the plain physical plan.
    */
  test("sweep: no query plans Coalesce(1) reaching a file scan without a bound") {
    import org.apache.spark.sql.execution._
    spark.catalog.clearCache()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def narrowScan(p: SparkPlan): Boolean = p match {
        case _: exchange.ShuffleExchangeExec => false
        case _: exchange.BroadcastExchangeExec => false
        case _: TakeOrderedAndProjectExec => false
        case _: GlobalLimitExec => false
        case _: CollectLimitExec => false
        case _: FileSourceScanExec => true
        case _: datasources.v2.BatchScanExec => true // any v2 file scan
        case other => other.children.exists(narrowScan)
      }
      val offenders = SparkEntry.allQueries.flatMap { q =>
        val plan = q.fn(spark, sf).queryExecution.executedPlan
        val bad = plan.collect {
          case c: CoalesceExec if c.numPartitions == 1 && narrowScan(c.child) => c
        }
        if (bad.nonEmpty) Some(q.name) else None
      }
      assert(offenders.isEmpty,
        s"Coalesce(1) reaches a file scan narrowly in: ${offenders.mkString(", ")}")
    } finally {
      // query construction persists frames (ANN corpora); free them
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("hits: the distributed loop's plan does not grow with iters") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 2L)).toDF("src", "dst", "w")
    def size(iters: Int): Int = graft.operators.GraphRank.hitsFixedPoint(e, iters, smallGraphMaxEdges = 0)
      .queryExecution.optimizedPlan.collect { case n => n }.size
    val (two, four) = (size(2), size(4))
    assert(four <= 2 * two, s"optimized plan: $two nodes at iters = 2, $four at iters = 4")
  }

  // The other two graph loops: a plan linear in `iters` passes; one that
  // grows 4x per round, the old HITS shape, does not.
  private def planGrowth(loop: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 2L)).toDF("src", "dst", "w")
    def size(iters: Int): Int = loop(e, iters).queryExecution.optimizedPlan.collect { case n => n }.size
    val (two, eight) = (size(2), size(8))
    assert(eight <= 4 * two, s"optimized plan: $two nodes at iters = 2, $eight at iters = 8")
  }

  test("pageRank: the distributed loop's plan grows at most linearly with iters") {
    planGrowth(graft.operators.GraphRank.pageRankFixedPoint(_, _, smallGraphMaxEdges = 0))
  }

  test("labelPropagation: the distributed loop's plan grows at most linearly with rounds") {
    planGrowth(graft.operators.GraphRank.labelPropagation(_, _, smallGraphMaxEdges = 0))
  }
}
