package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** IVF (inverted-file) approximate nearest neighbor search: a coarse
  * k-means quantizer partitions the corpus into `nClusters` cells; a
  * query scans only its `nProbe` nearest cells.
  *
  * Spark-first composition with a fully DETERMINISTIC, engine-mirrorable
  * quantizer, so the whole pipeline carries a DuckDB oracle (the
  * reference point for IVF is Lloyd's algorithm itself, not a library):
  *   - fit on a deterministic HASH sample (`mix32(id) % fitSampleMod
  *     == 0`, a 1/fitSampleMod rate) — cell quality needs ~1000x
  *     nClusters points, not the corpus, and a hash sample is one
  *     narrow filter that is unbiased even when ids correlate with
  *     content (a head-of-table `ORDER BY id LIMIT n` sample is a full
  *     TakeOrdered pass AND inherits ingest-order bias);
  *   - init = the first `nClusters` sample vectors; `lloydIter` Lloyd
  *     steps, each a distributed assignment pass + per-cell/dim mean;
  *     centroids are O(nClusters x dim) and are collected per step like
  *     any k-means driver loop, ROUNDED to 6 dp so partition-order
  *     summation noise in avg() can never flip a downstream comparison;
  *   - every distance is squared euclidean, summed in ascending dim
  *     order and rounded to 6 dp, argmin tiebroken by cell id — the
  *     identical computation is expressible in SQL.
  *
  * Distance/argmin hot loops run as typed Dataset.map with native Scala
  * loops (Spark's higher-order-function lambdas are interpreted — see
  * TextHashing's note); the stage stays narrow and scales linearly.
  *
  * Scale shape: the corpus is scanned once for assignment (nClusters
  * distances per row) and equi-joined on the cell id against the
  * broadcast probe list, so per-query work scales with
  * nProbe/nClusters of the data. Centroids are driver-safe by
  * construction at any corpus scale.
  */
object IvfSearch {

  /** Round half away from zero at 6 dp (matches Spark SQL and DuckDB
    * `round(x, 6)` on doubles — math.rint would be half-even).
    */
  def rnd6(x: Double): Double =
    math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6

  /** 32-bit avalanche mix of a non-negative id: the xorshift-multiply
    * mix from TextHashing.poly32's finalizer, as a codegen'd column
    * expression. Every intermediate stays < 2^48, so the identical
    * BIGINT arithmetic runs in DuckDB — the fit-sample filter is
    * oracle-mirrorable (xxhash64 is not). `pmod` keeps h0 non-negative
    * for negative ids too; the DuckDB mirrors use the positive-modulo
    * form `((x % m + m) % m)` (plain `%` takes the dividend's sign
    * there), so engine and oracle agree for ALL long ids.
    */
  def mix32(c: Column): Column = {
    val h0 = pmod(c.cast("long"), lit(4294967296L))
    val m1 = h0.bitwiseXOR(shiftright(h0, 16))
    val m2 = pmod(m1 * lit(40503L), lit(4294967296L))
    m2.bitwiseXOR(shiftright(m2, 13))
  }

  /** Squared euclidean, ascending-dim fold (mirrors SQL list_sum order). */
  def sqDist(v: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < v.length) { val d = v(j) - c(j); s += d * d; j += 1 }
    s
  }

  /** Nearest cell by (round-6 distance, cell id) — engine-independent. */
  def nearestCell(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < centroids.length) {
      val d = rnd6(sqDist(v, centroids(i)))
      if (d < bestD) { bestD = d; best = i } // ties keep the lower cell id
      i += 1
    }
    best
  }

  /** The query's nProbe nearest cells by the same rounded metric. */
  def probeCellsOf(v: Array[Double], centroids: Array[Array[Double]], nProbe: Int): Seq[Int] =
    centroids.indices
      .map(i => (rnd6(sqDist(v, centroids(i))), i))
      .sorted.take(nProbe).map(_._2)

  /** Deterministic sample-fit Lloyd quantizer; returns rounded centroids.
    * Two bounds make the sample driver-safe at ANY corpus size:
    * `fitSampleMod` pre-filters to rows with `mix32(id) % mod == 0`
    * (a narrow filter — set it to ~corpusRows/16k at scale to shrink
    * the scan), and a HARD cap of `fitMaxRows` via a hash-ordered
    * TakeOrdered (per-partition top-K on `(mix32(id), id)` + driver
    * merge — bounded and UNBIASED, unlike a first-N-by-id sample,
    * because the order is the avalanche hash, not ingest order).
    *
    * The bounded sample is collected ONCE and Lloyd iterates on the
    * driver: a distributed Lloyd step over a bounded sample is all
    * scheduling overhead (2 jobs x lloydIter collapse to zero). The
    * corpus-wide ASSIGNMENT pass in [[ivfTopK]] stays distributed —
    * that is the part that scales with data. Arithmetic is unchanged
    * (same init, same rnd6 distances/means, ascending-id summation) so
    * the DuckDB mirror still replays it exactly.
    */
  def fitCentroids(
      e: Dataset[(Long, Array[Double])],
      nClusters: Int,
      lloydIter: Int,
      fitSampleMod: Long,
      fitMaxRows: Int = 4096): Array[Array[Double]] =
    fitCentroidsOnSample(
      collectFitSample(e, fitSampleMod, fitMaxRows), nClusters, lloydIter)

  /** The bounded deterministic fit sample (see [[fitCentroids]]),
    * ascending-id on the driver — exposed so composed indexes (IVF-PQ)
    * can fit several quantizers from ONE sample job.
    */
  def collectFitSample(
      e: Dataset[(Long, Array[Double])],
      fitSampleMod: Long,
      fitMaxRows: Int = 4096): Array[(Long, Array[Double])] = {
    val sample = e.filter(pmod(mix32(col("id")), lit(fitSampleMod)) === 0)
      .orderBy(mix32(col("id")), col("id")).limit(fitMaxRows)
      .collect().sortBy(_._1) // deterministic ascending-id order
    require(sample.nonEmpty, "IVF fit sample is empty — lower fitSampleMod")
    sample
  }

  /** Driver-side Lloyd over an already-bounded sample — the arithmetic
    * half of [[fitCentroids]], unchanged.
    */
  def fitCentroidsOnSample(
      sample: Array[(Long, Array[Double])],
      nClusters: Int,
      lloydIter: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "IVF fit sample is empty")
    var centroids: Array[Array[Double]] =
      sample.take(nClusters).map(_._2.map(rnd6))
    var it = 0
    while (it < lloydIter) {
      val cs = centroids
      val dim = sample.head._2.length
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { case (_, v) =>
        val c = nearestCell(v, cs)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      // empty cells keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old
        else sums(i).map(s => rnd6(s / counts(i)))
      }
      it += 1
    }
    centroids
  }

  /** Semantic (embedding-space) deduplication, SemDeDup-style: cluster
    * the corpus with the same deterministic IVF quantizer, then prune
    * WITHIN each cell — any vector whose cell holds a lower-id vector
    * with cosine similarity above `threshold` is marked dropped, the
    * lowest id of each near-dup group survives. The public SemDeDup
    * recipe (cluster, then intra-cluster pairwise pruning) re-expressed
    * as Spark relational ops; complements [[Dedup.embeddingNearDup]]
    * (brute pairs) and [[Similarity.lshNearDupPairs]] (sign-LSH pairs)
    * with the clustered formulation whose pair work is bounded by cell
    * size, never corpus size.
    *
    * Returns ONE ROW PER INPUT VECTOR: (vec_id, cell, kept) — both
    * sides of the decision are visible, so the oracle pins keeps and
    * drops alike.
    *
    * Scale shape: one narrow assignment pass (nClusters distances per
    * row), one shuffle keyed on the cell id shared by the cap window
    * and the intra-cell pair join, one keyed left-anti-shaped join for
    * the verdict — never an all-pairs product. The quadratic term is
    * sum over cells of |cell|^2: size nClusters ~ corpusRows /
    * targetCellSize at scale (SemDeDup uses tens of thousands of
    * clusters at billion-doc scale), and `maxCellSize` hard-bounds a
    * runaway hot cell by hash-rank — rows past the cap are
    * conservatively KEPT (never silently dropped), documented
    * analogous to [[Dedup.capDocFreq]]'s candidate cap.
    */
  private val CentroidsMagic = 0x47495646 // "GIVF"

  /** Persist a fitted coarse quantizer (cell order preserved — probe
    * lists and cell assignments are centroid-INDEX-addressed, so order
    * is part of the index identity). At corpus scale the quantizer is
    * fit once per release and every query job loads it: re-fitting is
    * a corpus-sampling job AND a reproducibility hazard (a changed
    * sample cap silently reassigns every cell). Same release-artifact
    * discipline as [[graft.operators.TrainingPipeline.writeTokenizer]]
    * and `writeRefreshArtifacts`.
    */
  def saveCentroids(centroids: Array[Array[Double]], path: java.nio.file.Path): Unit = {
    require(centroids.nonEmpty, "no centroids to save")
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try {
      out.writeInt(CentroidsMagic)
      out.writeInt(1) // version
      out.writeInt(centroids.length)
      centroids.foreach { c =>
        out.writeInt(c.length)
        c.foreach(out.writeDouble)
      }
    } finally out.close()
  }

  /** Load a quantizer persisted by [[saveCentroids]]; zero Spark jobs.
    * Pass to [[ivfTopK]] via `prebuiltCentroids`.
    */
  def loadCentroids(path: java.nio.file.Path): Array[Array[Double]] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(path)))
    try {
      require(in.readInt() == CentroidsMagic, s"not an IVF centroids file: $path")
      val version = in.readInt()
      require(version == 1, s"unknown IVF centroids version $version")
      Array.fill(in.readInt()) {
        val c = new Array[Double](in.readInt())
        var j = 0
        while (j < c.length) { c(j) = in.readDouble(); j += 1 }
        c
      }
    } finally in.close()
  }

  def semanticDedup(
      embeddings: DataFrame,
      threshold: Double = 0.45,
      nClusters: Int = 16,
      lloydIter: Int = 3,
      fitSampleMod: Long = 1,
      fitMaxRows: Int = 4096,
      maxCellSize: Int = 100000,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      prebuiltCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"invalid threshold=$threshold")
    require(maxCellSize > 0, s"invalid maxCellSize=$maxCellSize")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // persist: the projection feeds the fit sample and the assignment
    val e = Dedup.spread(embeddings
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    // release-artifact quantizer ([[saveCentroids]]) skips the fit job
    val cs = prebuiltCentroids.getOrElse(
      fitCentroids(e, nClusters, lloydIter, fitSampleMod, fitMaxRows))
    // persist: assignment feeds both pair-join sides and the verdict
    val assigned = e.map { case (id, v) => (id, v, nearestCell(v, cs)) }
      .toDF("id", "v", "cell")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // hash-rank cap within the cell: the window's cell partitioning is
    // the same key the pair join shuffles on
    val wCell = Window.partitionBy("cell").orderBy(mix32(col("id")), col("id"))
    val part = assigned.withColumn("rk", row_number().over(wCell))
      .filter(col("rk") <= maxCellSize)
      .select(col("id"), col("v"), col("cell"))
    val removed = part.select(col("id").as("ka"), col("v").as("x"), col("cell"))
      .join(part.select(col("id").as("kb"), col("v").as("y"), col("cell")), Seq("cell"))
      .filter(col("ka") < col("kb"))
      .filter(graft.functions.GraftFunctions.cosine_similarity(col("x"), col("y"))
        > threshold)
      .select(col("kb")).distinct()
    assigned.select(col("id").as(idCol), col("cell"))
      .join(removed, col(idCol) === col("kb"), "left")
      .select(col(idCol), col("cell"), col("kb").isNull.as("kept"))
  }

  /** Top-k probe search over the IVF cells.
    *
    * CACHE OWNERSHIP (same contract as Dedup's signature stages): the
    * internal projection `e` is persist(MEMORY_AND_DISK)ed because it
    * feeds three consumers (fit-sample filter, corpus assignment, query
    * filter) that share no canonical exchange. A returned DataFrame has
    * no completion hook, so the entry is NOT unpersisted here; repeated
    * calls on the same input reuse the one entry (CacheManager
    * canonicalizes), and batch harnesses that run many unrelated
    * queries (Verify) clear the SQL cache between queries. A
    * long-lived caller that never clears the cache holds one
    * projection-sized entry per distinct input — call
    * `spark.catalog.clearCache()` (or uncache the input) when done.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int = 10,
      nClusters: Int = 16,
      nProbe: Int = 4,
      lloydIter: Int = 3,
      fitSampleMod: Long = 1,
      fitMaxRows: Int = 4096,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      prebuiltCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // persist: the projection feeds the fit-sample filter, the corpus
    // assignment pass, and the query filter — three consumers with no
    // shared exchange
    val e = Dedup.spread(embeddings
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)

    // prebuilt (release-artifact) quantizer skips the fit-sample job
    // entirely — the steady-state path; fitting stays the cold default
    val centroids = prebuiltCentroids.getOrElse(
      fitCentroids(e, nClusters, lloydIter, fitSampleMod, fitMaxRows))
    val cs = centroids

    // corpus assignment: one narrow pass, nClusters distances per row
    val assigned = e.map { case (id, v) => (id, v, nearestCell(v, cs)) }
      .toDF(idCol, "v", "cell")

    // each query probes its nProbe nearest cells (broadcast, tiny).
    // Column-based isin (not a typed closure): Catalyst sees the
    // predicate, so the probe pass prunes at the (cached) scan instead
    // of re-reading the whole corpus projection.
    val np = nProbe
    val probes = e.filter(col("id").isin(queryIds: _*))
      .flatMap { case (id, v) => probeCellsOf(v, cs, np).map(c => (id, v, c)) }
      .toDF("qid", "qv", "cell")

    // probe: equi-join on the cell id — scans nProbe/nClusters of corpus
    val scored = assigned.join(broadcast(probes), "cell")
      .filter(col(idCol) =!= col("qid"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine_similarity(col("qv"), col("v")), 4))
    // bounded partial top-k, not a qid rank window (see TopK)
    TopK.bySimDesc(scored, "qid", "sim", idCol, k)
  }
}
