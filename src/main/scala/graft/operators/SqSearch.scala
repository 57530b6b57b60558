package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scalar-quantization ANN (the FAISS `ScalarQuantizer` QT_8bit
  * layout, public algorithm; see also Guo et al.'s uniform SQ
  * baselines) — the third compression rung of the similarity family:
  * [[IvfSearch]] prunes cells over exact vectors, [[PqSearch]] replaces
  * vectors with m sub-codebook codes, SQ keeps EVERY dimension but
  * stores it as one uint8: `code_i = round((x_i − min_i) / (max_i −
  * min_i) · 255)` against per-dimension corpus min/max — a 4× (float32)
  * compression with no codebook fit at all, the cheapest index to
  * train and the standard re-rank layer under a coarser index.
  *
  * Determinism/mirroring discipline: the trained stats are exact
  * per-dimension min/max (no sampling, no iteration — replayable by a
  * single SQL aggregate); encode is `floor(t·255 + 0.5)` on the
  * normalized value (half-up, the recorded x ≥ 0 emit rule); scoring
  * is ASYMMETRIC (full-precision query against decoded corpus codes,
  * FAISS ADC convention) with the squared-L2 fold running in ascending
  * dimension order on both engines — one `floor(d²·1e6 + 0.5)` per
  * pair, exact across engines (the ann_brute_l2 pattern).
  *
  * Scale shape (100 TB corpus, 1000 executors):
  *   - train: ONE narrow pass; the (dim, x) explode collapses map-side
  *     to partitions × dim partial min/max rows and only 2×dim doubles
  *     reach the driver, broadcast back (~1 KB at dim 64).
  *   - encode + score: ONE narrow typed pass — per row, dim integer
  *     encodes, then per query a dim-length decode/fold against the
  *     broadcast full-precision query vectors. No join, no corpus
  *     shuffle; ranking is the bounded partial top-k ([[TopK]]).
  *   - in a production store the codes persist at release (the
  *     [[PqSearch]] incremental convention) and probes pay only the
  *     decode scan; at this SF the in-query encode keeps the oracle
  *     replayable.
  */
object SqSearch {

  /** `a < b` in Spark's double ordering (`SQLOrderingUtil.compareDoubles`):
    * NaN is above every number and -0.0 equals 0.0, so a [[DimRange]]
    * agrees with Spark's `min`/`max` aggregates, NaN included.
    */
  private def below(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  /** Running per-dimension min/max: a partition-local partial over
    * vectors ([[add]]), or the driver merge of partials ([[merge]]). The
    * first input seeds it, and a longer input seeds its new dimensions
    * (the ragged guard).
    */
  private final class DimRange {
    var mn: Array[Double] = null
    var mx: Array[Double] = null

    def isEmpty: Boolean = mn == null

    def add(v: Array[Double]): Unit = merge(v, v)

    def merge(lo: Array[Double], hi: Array[Double]): Unit =
      if (mn == null) { mn = lo.clone(); mx = hi.clone() }
      else {
        if (lo.length > mn.length) {
          val old = mn.length
          mn = java.util.Arrays.copyOf(mn, lo.length)
          mx = java.util.Arrays.copyOf(mx, lo.length)
          System.arraycopy(lo, old, mn, old, lo.length - old)
          System.arraycopy(hi, old, mx, old, lo.length - old)
        }
        var j = 0
        while (j < lo.length) {
          if (below(lo(j), mn(j))) mn(j) = lo(j)
          if (below(mx(j), hi(j))) mx(j) = hi(j)
          j += 1
        }
      }
  }

  /** Driver merge of partition partials (null stats: no vectors). */
  private def mergeRanges(partials: Iterator[(Array[Double], Array[Double])]): (Array[Double], Array[Double]) = {
    val r = new DimRange
    partials.foreach { case (mn, mx) => if (mn != null) r.merge(mn, mx) }
    (r.mn, r.mx)
  }

  /** SQ8 top-k by asymmetric distance: train per-dimension min/max,
    * encode the corpus to uint8 codes, score every (query, vector)
    * pair by exact-query-vs-decoded-code squared L2, return the k
    * nearest by (micro distance asc, vec_id) per query.
    *
    * @return (qid, rnk, vec_id, adist_micro) — adist_micro the integer
    *         micro-L2 of the asymmetric distance, exact across engines
    */
  def sq8TopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topK > 0, s"invalid topK=$topK")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = Dedup.spread(embeddings.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)

    // train: per-dimension min/max, merged on the driver from
    // partition-local partials — min/max partial merge is exactly what
    // the former groupBy(j) exchange computed, but dimension-bounded
    // stats need no exchange at all: each partition ships 2×dim doubles
    // plus its query-fixture matches, so ONE job replaces the r19 pair
    // (stats agg job + qRows filter-collect job) and the stats exchange
    // disappears (guide §2.3/§2.4: aggregate before you shuffle, taken
    // to the degenerate case where nothing needs to shuffle).
    val qSet = queryIds.toSet
    val partials = e.mapPartitions { it =>
      val r = new DimRange
      val qs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      it.foreach { case (id, v) =>
        if (qSet.contains(id)) qs += ((id, v))
        r.add(v)
      }
      if (r.isEmpty && qs.isEmpty) Iterator.empty
      else Iterator((r.mn, r.mx, qs.toArray))
    }.collect()
    require(partials.exists(_._1 != null), "sq8TopK: corpus has no vectors")
    val (mns, mxs) = mergeRanges(partials.iterator.map(p => (p._1, p._2)))

    // query fixture vectors (bounded by |queryIds|, the ANN convention)
    val qRows = partials.flatMap(_._3).distinctBy(_._1).sortBy(_._1)
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcMn = spark.sparkContext.broadcast(mns)
    val bcMx = spark.sparkContext.broadcast(mxs)

    // encode + score in ONE narrow pass: dim half-up encodes per row,
    // then per query the ascending-dim decode/fold — the ADC scan
    val scored = e.mapPartitions { it =>
      val qs = bcQ.value
      val mn = bcMn.value
      val mx = bcMx.value
      it.flatMap { case (vid, v) =>
        val codes = new Array[Int](v.length)
        var i = 0
        while (i < v.length) {
          codes(i) =
            if (mx(i) > mn(i))
              math.floor((v(i) - mn(i)) / (mx(i) - mn(i)) * 255.0 + 0.5).toInt
            else 0
          i += 1
        }
        qs.iterator.filter(_._1 != vid).map { case (qid, qv) =>
          var s = 0.0
          var j = 0
          while (j < v.length) {
            val dec = mn(j) + codes(j) * (mx(j) - mn(j)) / 255.0
            val d = qv(j) - dec
            s += d * d
            j += 1
          }
          (qid, vid, math.floor(s * 1e6 + 0.5).toLong)
        }
      }
    }.toDF("qid", "vec_id", "adist_micro")
    e.unpersist(blocking = false)
    TopK.byGroupAsc(scored, "qid", "adist_micro", "vec_id", topK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("adist_micro"))
  }

  /** IVF + residual SQ8 top-k (the FAISS `IndexIVFScalarQuantizer`
    * layout, `by_residual=true`): [[IvfSearch]]'s deterministic coarse
    * quantizer prunes each query to its `nProbe` nearest cells, and
    * within cells vectors are stored as QT_8bit codes of their RESIDUAL
    * `x − centroid(cell(x))` — residuals concentrate around the origin,
    * so the per-dimension min/max range is tighter than the raw
    * corpus's and each of the 255 steps resolves finer detail (the same
    * argument as [[PqSearch.ivfPqResidualTopK]], scalar edition).
    * Completes the FAISS compression ladder: brute → LSH → IVF → PQ →
    * IVF-PQ → residual IVF-PQ → SQ8 → IVF-SQ8.
    *
    * Determinism: the coarse fit is the shared bounded hash-sample
    * Lloyd with round-6 centroids; the residual is plain IEEE
    * subtraction; residual stats are EXACT per-dim min/max over the
    * full corpus (one narrow pass, the SQ rule); encode is half-up;
    * the ADC fold runs ascending-dim per (query-residual, code) pair
    * with one `floor(d²·1e6 + 0.5)` per pair.
    *
    * Scale shape on top of [[sq8TopK]]'s: the corpus pass additionally
    * assigns the coarse cell (nClusters distances per row), and the
    * probe map keys scoring by cell — per-query ADC work touches
    * nProbe/nClusters of the codes; with codes persisted partitioned
    * by cell the scan itself prunes. Queries, centroids and stats are
    * all broadcast; no joins, no corpus shuffle; bounded top-k ranks.
    */
  def ivfSqTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      nClusters: Int = 16,
      nProbe: Int = 4,
      lloydIter: Int = 3,
      topK: Int = 10,
      fitSampleMod: Long = 1,
      fitMaxRows: Int = 4096,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topK > 0, s"invalid topK=$topK")
    require(nProbe > 0 && nProbe <= nClusters,
      s"invalid nProbe=$nProbe for nClusters=$nClusters")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = PqSearch.project(embeddings, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sample = IvfSearch.collectFitSample(e, fitSampleMod, fitMaxRows)
    val centroids = IvfSearch.fitCentroidsOnSample(sample, nClusters, lloydIter)
    val bcCs = spark.sparkContext.broadcast(centroids)
    // residual per-dim min/max over the FULL corpus, merged on the
    // driver from partition-local partials — the sq8TopK merge: ONE
    // job replaces the r19 pair (residual-stats agg + qRows filter
    // collect) and the stats exchange disappears; each partition ships
    // 2×dim doubles plus its query-fixture matches.
    val qSet = queryIds.toSet
    val partials = e.mapPartitions { it =>
      val cs = bcCs.value
      val r = new DimRange
      val qs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      it.foreach { case (id, v) =>
        if (qSet.contains(id)) qs += ((id, v))
        r.add(PqSearch.residual(v, cs(IvfSearch.nearestCell(v, cs))))
      }
      if (r.isEmpty && qs.isEmpty) Iterator.empty
      else Iterator((r.mn, r.mx, qs.toArray))
    }.collect()
    require(partials.exists(_._1 != null), "ivfSqTopK: corpus has no vectors")
    val (mns, mxs) = mergeRanges(partials.iterator.map(p => (p._1, p._2)))
    // bounded query panel: per probed cell, the query's RESIDUAL
    // against that cell's centroid (FAISS residual-ADC convention)
    val qRows = partials.flatMap(_._3).distinctBy(_._1).sortBy(_._1)
    val probe: Map[Int, Array[(Long, Array[Double])]] = qRows
      .flatMap { case (qid, qv) =>
        IvfSearch.probeCellsOf(qv, centroids, nProbe)
          .map(c => (c, (qid, PqSearch.residual(qv, centroids(c)))))
      }
      .groupBy(_._1).map { case (c, g) => c -> g.map(_._2).sortBy(_._1) }
    val bcProbe = spark.sparkContext.broadcast(probe)
    val bcMn = spark.sparkContext.broadcast(mns)
    val bcMx = spark.sparkContext.broadcast(mxs)
    val scored = e.mapPartitions { it =>
      val cs = bcCs.value
      val pr = bcProbe.value
      val mn = bcMn.value
      val mx = bcMx.value
      it.flatMap { case (vid, v) =>
        val cell = IvfSearch.nearestCell(v, cs)
        pr.get(cell) match {
          case None => Iterator.empty
          case Some(qs) =>
            val r = PqSearch.residual(v, cs(cell))
            val codes = new Array[Int](r.length)
            var j = 0
            while (j < r.length) {
              codes(j) =
                if (mx(j) > mn(j))
                  math.floor((r(j) - mn(j)) / (mx(j) - mn(j)) * 255.0 + 0.5).toInt
                else 0
              j += 1
            }
            qs.iterator.filter(_._1 != vid).map { case (qid, qr) =>
              var s = 0.0
              var k = 0
              while (k < qr.length) {
                val dec = mn(k) + codes(k) * (mx(k) - mn(k)) / 255.0
                val d = qr(k) - dec
                s += d * d
                k += 1
              }
              (qid, vid, math.floor(s * 1e6 + 0.5).toLong)
            }
        }
      }
    }.toDF("qid", "vec_id", "adist_micro")
    e.unpersist(blocking = false)
    TopK.byGroupAsc(scored, "qid", "adist_micro", "vec_id", topK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("adist_micro"))
  }

  /** A trained QT_8bit quantizer: per-dimension corpus min/max (FAISS
    * `ScalarQuantizer::trained` for QT_8bit is exactly these 2·dim
    * floats). Fit once at release ([[fitSqModel]]), persisted with the
    * release ([[graft.operators.TrainingPipeline.writeSqIndex]]).
    */
  final case class SqModel(mns: Array[Double], mxs: Array[Double]) {
    require(mns.length == mxs.length && mns.nonEmpty, "empty/ragged SQ stats")
    def dim: Int = mns.length
  }

  private val SqModelMagic = 0x53513842 // "SQ8B"

  /** Persist a trained quantizer as a tiny binary artifact (2·dim
    * doubles + header) — the [[PqSearch.savePqModel]] convention: the
    * model loads with ZERO Spark jobs at probe time.
    */
  def saveSqModel(model: SqModel, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try {
      out.writeInt(SqModelMagic)
      out.writeInt(1) // version
      out.writeInt(model.dim)
      model.mns.foreach(out.writeDouble)
      model.mxs.foreach(out.writeDouble)
    } finally out.close()
  }

  /** Load a [[saveSqModel]] artifact — fails fast on a foreign file. */
  def loadSqModel(path: java.nio.file.Path): SqModel = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(path)))
    try {
      require(in.readInt() == SqModelMagic, s"not an SQ8 model file: $path")
      val version = in.readInt()
      require(version == 1, s"unsupported SQ8 model version $version: $path")
      val dim = in.readInt()
      require(dim > 0 && dim <= 65536, s"implausible SQ8 dim $dim: $path")
      SqModel(Array.fill(dim)(in.readDouble()), Array.fill(dim)(in.readDouble()))
    } finally in.close()
  }

  /** Train the quantizer: ONE narrow pass with partition-local partial
    * min/max merged on the driver — 2×dim doubles per partition, no
    * exchange at all (r20: the former (dim, x) explode + groupBy(j)
    * form paid a stats-exchange stage job for the same selection-only
    * arithmetic; min/max partial merge is order-free so the results
    * are bit-identical). No sampling, no iteration: exact stats,
    * replayable by a single SQL aggregate.
    */
  def fitSqModel(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): SqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val partials = PqSearch.project(corpus, idCol, vecCol)
      .mapPartitions { it =>
        val r = new DimRange
        it.foreach { case (_, v) => r.add(v) }
        if (r.isEmpty) Iterator.empty else Iterator((r.mn, r.mx))
      }.collect()
    require(partials.nonEmpty, "fitSqModel: corpus has no vectors")
    val (mns, mxs) = mergeRanges(partials.iterator)
    SqModel(mns, mxs)
  }

  /** Encode a corpus against a fitted quantizer: ONE narrow pass
    * emitting (vec_id, cd) — dim uint8 codes per vector, the 4×
    * compressed index frame. `dim` rides the `cd` column metadata (the
    * [[Dedup.minhashBands]] stamp discipline) so a probe against a
    * foreign or re-dimensioned index fails fast.
    */
  def encodeSq(
      corpus: DataFrame,
      model: SqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcMn = spark.sparkContext.broadcast(model.mns)
    val bcMx = spark.sparkContext.broadcast(model.mxs)
    Dedup.stampIndexMeta(
      PqSearch.project(corpus, idCol, vecCol).map { case (vid, v) =>
        val mn = bcMn.value
        val mx = bcMx.value
        require(v.length == mn.length,
          s"vector dim ${v.length} != trained dim ${mn.length} (vec_id=$vid)")
        val codes = new Array[Int](v.length)
        var j = 0
        while (j < v.length) {
          codes(j) =
            if (mx(j) > mn(j))
              math.floor((v(j) - mn(j)) / (mx(j) - mn(j)) * 255.0 + 0.5).toInt
            else 0
          j += 1
        }
        (vid, codes)
      }.toDF("vec_id", "cd"),
      "cd", "sq_codes", Map("dim" -> model.dim.toLong))
  }

  /** Incremental ADC probe of a PERSISTED SQ8 code index: batch vectors
    * query the frozen codes by asymmetric full-query-vs-decoded-code
    * squared L2 — the released corpus is never re-scanned in float form
    * (the [[Dedup.incrementalNearDup]] steady-state contract, scalar-
    * quantization edition). The fold runs in ascending dimension order
    * per (query, code) pair — identical arithmetic to [[sq8TopK]]'s
    * in-query scan, so a probe against codes the release encoded equals
    * the monolithic query row for row.
    *
    * Driver state is gated by ONE `take(cap+1)` job (the
    * [[PqSearch.probePqCodes]] discipline — the take both decides the
    * path and supplies the broadcast rows): a batch at or under
    * `maxDriverBatchRows` broadcasts and scores in a join-free narrow
    * pass over the codes frame; a larger batch never touches the
    * driver — it scores through a distributed cross join (both arrays
    * ride their rows, the fold still runs ascending-dim per pair, so
    * the two paths are row-identical — spec-pinned). The cross join is
    * the honest cost of a FLAT index: SQ8 is the re-rank/compression
    * layer; batch-scale probing composes it under [[IvfSearch]]/
    * [[PqSearch]] coarse pruning rather than widening this scan.
    */
  def probeSqCodes(
      batch: DataFrame,
      model: SqModel,
      codes: DataFrame,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxDriverBatchRows: Int = 65536): DataFrame = {
    require(topK > 0, s"invalid topK=$topK")
    require(maxDriverBatchRows >= 0,
      s"invalid maxDriverBatchRows=$maxDriverBatchRows")
    Dedup.checkIndexMeta(codes, "cd", "sq_codes",
      Map("dim" -> model.dim.toLong))
    val spark = batch.sparkSession
    import spark.implicits._
    val mns = model.mns
    val mxs = model.mxs
    def fold(qv: Array[Double], cd: Array[Int],
        mn: Array[Double], mx: Array[Double]): Long = {
      var s = 0.0
      var j = 0
      while (j < qv.length) {
        val dec = mn(j) + cd(j) * (mx(j) - mn(j)) / 255.0
        val d = qv(j) - dec
        s += d * d
        j += 1
      }
      math.floor(s * 1e6 + 0.5).toLong
    }
    val q = PqSearch.project(batch, idCol, vecCol)
    val cds = codes.select(col("vec_id").cast("long"), col("cd"))
      .as[(Long, Array[Int])]
    val gateRows = q.take(maxDriverBatchRows + 1)
    val scored =
      if (gateRows.length <= maxDriverBatchRows) {
        val qRows = gateRows.sortBy(_._1)
        qRows.foreach { case (qid, qv) =>
          require(qv.length == mns.length,
            s"query dim ${qv.length} != trained dim ${mns.length} (qid=$qid)") }
        val bcQ = spark.sparkContext.broadcast(qRows)
        val bcMn = spark.sparkContext.broadcast(mns)
        val bcMx = spark.sparkContext.broadcast(mxs)
        cds.mapPartitions { it =>
          val qs = bcQ.value
          val mn = bcMn.value
          val mx = bcMx.value
          it.flatMap { case (vid, cd) =>
            qs.iterator.filter(_._1 != vid).map { case (qid, qv) =>
              (qid, vid, fold(qv, cd, mn, mx))
            }
          }
        }.toDF("qid", "vec_id", "adist_micro")
      } else {
        // distributed fallback: nothing batch-sized on the driver —
        // both arrays ride their rows through the cross join and the
        // per-pair fold is the same ascending-dim loop
        val bcMn = spark.sparkContext.broadcast(mns)
        val bcMx = spark.sparkContext.broadcast(mxs)
        q.toDF("qid", "qv").crossJoin(cds.toDF("vec_id", "cd"))
          .filter(col("vec_id") =!= col("qid"))
          .as[(Long, Array[Double], Long, Array[Int])]
          .map { case (qid, qv, vid, cd) =>
            (qid, vid, fold(qv, cd, bcMn.value, bcMx.value))
          }.toDF("qid", "vec_id", "adist_micro")
      }
    TopK.byGroupAsc(scored, "qid", "adist_micro", "vec_id", topK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("adist_micro"))
  }
}
