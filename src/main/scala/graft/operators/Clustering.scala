package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Embedding-space clustering for corpus curation — the grouping pass
  * behind topic bucketing, cluster-balanced sampling and SemDeDup-style
  * semantic curation (the reference system has no analytics surface;
  * this extends the engine's training-data-pipeline family, SURVEY.md
  * §2.b north-star slots, next to [[IvfSearch]] whose coarse quantizer
  * is the same algorithm in sampled form).
  *
  * Deterministic Lloyd's k-means (public textbook algorithm), shaped
  * for cross-engine mirroring and 100-TB execution:
  *   - init = the k rows with the smallest ids (no random seeding —
  *     reproducible-release discipline, same reasoning as the hash
  *     splits in [[Sampling]]);
  *   - assignment = squared-L2 argmin over the k centroids, each
  *     distance ROUNDED AT 6 dp before comparison (the [[IvfSearch]]
  *     discipline: the fold order of a sum differs across engines,
  *     and an EXACT-double argmin could flip on an ulp), ties broken
  *     toward the lower cluster id;
  *   - update = per-cluster per-dimension mean ROUNDED AT 6 dp (the
  *     [[TextAnalysis.round6]] floor trick): a float mean's summation
  *     order differs between Spark's partial aggregates and any other
  *     engine, and the rounding absorbs that ulp drift so both walk
  *     bit-identical centroid trajectories — the same discipline that
  *     pins [[TextAnalysis.trainQualityWeights]]'s gradient walk;
  *   - empty clusters are dropped (not re-seeded), matching the
  *     relational mirror where a memberless centroid simply vanishes
  *     from the means frame.
  *
  * Scale shape: the parsed vector frame is persisted once and scanned
  * `iters` times for assignment (broadcast k×dim centroid array, one
  * narrow typed pass, NO shuffle) plus `iters-1` times for the update
  * (posexplode to (cluster, dim, x) then a (cluster, dim)-keyed mean:
  * Spark's partial aggregation collapses the exploded rows map-side,
  * so the exchange carries only partitions × k × dim partial rows, and
  * the driver only ever holds k×dim doubles). Nothing here sorts or
  * collects the corpus.
  *
  * Resource lifecycle: each in-loop centroid broadcast is destroyed as
  * soon as its means are collected, and the vector frame is unpersisted
  * before the final assignment plan is returned (that plan re-reads the
  * source once — the same single scan a cache hit would cost). Only the
  * FINAL k×dim broadcast outlives the call: the returned lazy plan
  * needs it at execution, and the ContextCleaner reclaims it once the
  * caller drops the frame.
  */
object Clustering {

  /** Cluster embeddings with deterministic Lloyd iterations.
    *
    * Null embeddings are dropped (absent from the output — callers
    * counting assignments should `na.drop` upstream if they need the
    * signal); a vector whose length differs from a centroid's is
    * compared over the common prefix, the same tolerance as
    * [[graft.functions.GraftFunctions.cosine_similarity]].
    *
    * @param iters assignment passes; `iters - 1` centroid updates
    *              (iters = 2 -> assign, update means once, re-assign)
    * @return one row per non-null input vector: (vec_id, cluster, dist)
    *         with `dist` the squared L2 distance to the final centroid
    *         (6-dp comparison value), rounded at 4 dp
    */
  def kmeans(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && iters >= 1, s"invalid k=$k iters=$iters")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = Dedup.spread(embeddings.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)

    // init: the k smallest ids, in cluster-id order (cid = rank of the
    // seed id, 0-based) — k rows to the driver, never the corpus
    val centroids = lloydCentroids(e, k, iters)

    // argmin over the broadcast centroids: per-centroid squared-L2 as a
    // left-to-right fold, rounded 6 dp BEFORE comparison (cross-engine
    // fold order cannot flip the winner), ties to the lower cluster id.
    val bc = spark.sparkContext.broadcast(centroids)
    val out = e.map { case (id, v) =>
        val (best, bestD) = Clustering.nearest(bc.value, v)
        (id, best, bestD)
      }.toDF("vec_id", "cluster", "dist")
    // release the iteration cache: the returned plan costs one source
    // scan either way, and holding corpus-sized blocks past the call
    // would accumulate across repeated kmeans() calls in a session
    e.unpersist(blocking = false)
    out.withColumn("dist", graft.functions.GraftFunctions.round4(col("dist")))
  }

  /** Cluster-balanced sampling: [[kmeans]] assignment followed by an
    * at-most-`quota` per-cluster keep, chosen by hash order within the
    * cluster (the [[Sampling.quotaPerKey]] rule on the cluster key) —
    * the topic-flattening pass of cluster-based curation pipelines
    * (DataComp/SemDeDup family): a corpus dominated by one embedding
    * mode contributes at most `quota` documents from that mode, while
    * sparse modes keep everything.
    *
    * The hash order (mix32 of the id, id tiebreak) makes the within-
    * cluster choice unbiased and stable under re-partitioning/appends —
    * the same determinism contract as every other sampling decision in
    * [[Sampling]]. Scale shape: kmeans' narrow assignment passes plus
    * ONE cluster-keyed window; k bounds the partition count of that
    * window, and `quota` rows survive per partition. No join back to
    * the corpus: the assignment frame already carries everything the
    * output needs.
    *
    * @return kept rows only: (vec_id, cluster, dist, rk) with
    *         rk the 1-based hash-order rank within the cluster
    */
  def clusterBalancedSample(
      embeddings: DataFrame,
      quota: Int = 30,
      k: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(quota > 0, s"invalid quota=$quota")
    val w = Window.partitionBy("cluster")
      .orderBy(IvfSearch.mix32(col("vec_id")), col("vec_id"))
    kmeans(embeddings, k, iters, idCol, vecCol)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= quota)
  }

  /** The deterministic Lloyd trajectory shared by [[kmeans]] and
    * [[silhouetteAudit]]: first-k-ids init, `iters - 1` round-6 mean
    * updates over broadcast centroids (the update exchange collapses
    * map-side to partitions × k × dim rows; only k×dim doubles reach
    * the driver), empty clusters dropped. Each in-loop broadcast is
    * destroyed once its means are collected.
    */
  private[operators] def lloydCentroids(
      e: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      k: Int,
      iters: Int): Array[(Int, Array[Double])] = {
    val spark = e.sparkSession
    import spark.implicits._
    // init: the k smallest ids, in cluster-id order (cid = rank of the
    // seed id, 0-based) — k rows to the driver, never the corpus
    var centroids: Array[(Int, Array[Double])] =
      e.orderBy("vec_id").limit(k).collect()
        .map(_._2).zipWithIndex.map { case (v, i) => (i, v) }
    var it = 1
    while (it < iters) {
      // centroid update: the assignment pass CARRIES the vector (no
      // join back to the corpus — an id-keyed join here would shuffle
      // the corpus twice per iteration), explodes to (cluster, dim, x)
      // and takes the (cluster, dim)-keyed mean, rounded 6 dp so every
      // engine resumes from the same doubles
      val bc = spark.sparkContext.broadcast(centroids)
      val means =
        try {
          e.map { case (_, v) => (Clustering.nearest(bc.value, v)._1, v) }
            .toDF("cluster", "v")
            .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
            .groupBy("cluster", "i")
            .agg(avg("x").as("m"))
            .collect()
        } finally bc.destroy()
      centroids = means.groupBy(_.getInt(0)).toArray.sortBy(_._1).map {
        case (cid, rows) =>
          val dim = rows.map(_.getInt(1)).max + 1
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getInt(1)) = TextAnalysis.round6(r.getDouble(2)))
          (cid, arr)
      }
      it += 1
    }
    centroids
  }

  /** Cluster-quality audit by SECOND-NEAREST MARGIN — the simplified
    * (centroid-based) silhouette of Hruschka et al., the standard
    * O(n·k) stand-in for the O(n²) pairwise silhouette at corpus
    * scale: per point, a = round-6 squared L2 to its OWN (nearest)
    * centroid, b = the second-nearest centroid's distance, and the
    * margin s = (b − a) / b ∈ [0, 1] (s = 0 when b = 0, the
    * coincident-centroids edge). High mean margin = well-separated
    * cluster; a collapsing pair of centroids drags its members toward
    * 0 — the acceptance number a clustering re-fit ships with, next to
    * [[kmeans]] the way emb2/emb4 ride their ANN indexes.
    *
    * Cross-engine exactness: s rounds to integer micro per POINT
    * (`floor(s·1e6 + 0.5)`, s ≥ 0) before the per-cluster sum, and the
    * mean divides two exact integers once (`Σ micro div n` — the
    * dd18/emb3 micro-average rule).
    *
    * Scale shape: [[lloydCentroids]]'s narrow passes, then ONE more
    * narrow typed pass (k distances per row, best/second-best carried
    * in two registers) into a k-row aggregate. Nothing sorts, joins or
    * collects the corpus.
    */
  def silhouetteAudit(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 2 && iters >= 1, s"invalid k=$k iters=$iters (need k >= 2)")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = Dedup.spread(embeddings.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull))
      .as[(Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    val centroids = lloydCentroids(e, k, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    val sil = e.flatMap { case (_, v) =>
      val cs = bc.value
      var bestC = -1
      var d1 = Double.MaxValue
      var db = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)._2
        val n = math.min(v.length, cv.length)
        var s = 0.0
        var i = 0
        while (i < n) { val dd = v(i) - cv(i); s += dd * dd; i += 1 }
        val r = TextAnalysis.round6(s)
        if (r < d1) { db = d1; d1 = r; bestC = cs(c)._1 }
        else if (r < db) { db = r }
        c += 1
      }
      if (db == Double.MaxValue) {
        // fewer than two surviving centroids (empty-cluster drops can
        // shrink the codebook): no second-nearest exists, the margin is
        // undefined and the point drops — the mirror's rn = 2 inner
        // join realizes the same rule
        None
      } else {
        val mic =
          if (db > 0.0) math.floor((db - d1) / db * 1e6 + 0.5).toLong
          else 0L
        Some((bestC, mic))
      }
    }.toDF("cluster", "mic")
    e.unpersist(blocking = false)
    sil.groupBy("cluster")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("mic").cast("long").as("sm"))
      .select(col("cluster"), col("n"),
        expr("sm div n").cast("long").as("mean_sil_micro"))
  }

  /** Density clustering (DBSCAN, Ester et al. 1996) over the embedding
    * cosine graph — the clustering the semantic-curation literature
    * actually runs (SemDeDup-style prune-per-dense-region, outlier
    * mining): k-means forces every point into a ball; DBSCAN separates
    * DENSE regions (clusters), their fringes (border), and true
    * outliers (noise), which is the distinction a curation pipeline
    * acts on.
    *
    * Definitions (neighbor = cosine sim STRICTLY above `simThreshold`,
    * self excluded): core ⇔ n_neighbors ≥ minPts; clusters = connected
    * components of the core–core graph (labels = min core id, the
    * dd8 convention; an isolated core is its own cluster); border =
    * non-core with ≥ 1 core neighbor, assigned the SMALLEST cluster
    * label among its core neighbors (deterministic — classic DBSCAN
    * leaves border ties to scan order); noise = everything else,
    * cluster −1.
    *
    * Scale shape: the pair graph comes from the injected `pairs` frame
    * (production: [[Similarity.lshNearDupPairs]]' banded output — the
    * same evidence-graph contract as [[Dedup.consensusNearDup]]);
    * default is the brute-force [[Dedup.embeddingNearDup]] oracle
    * baseline. Everything downstream is keyed aggs/joins on the
    * pair frame (near-dup-graph-sized, orders of magnitude under the
    * corpus) and [[Dedup.duplicateClusters]]' size-gated CC.
    *
    * @return (vec_id, n_neighbors, role, cluster) for every embedding
    */
  def dbscan(
      embeddings: DataFrame,
      simThreshold: Double = 0.35,
      minPts: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      pairs: Option[DataFrame] = None,
      smallGraphMaxPairs: Int = 100000): DataFrame = {
    require(minPts >= 1, s"invalid minPts=$minPts")
    // persisted BEFORE the gate probe so the probe's partial
    // materialization is never thrown away on the distributed path
    // (pair generation — the banded join — is the query's real cost)
    val pr0 = pairs.getOrElse(
      Dedup.embeddingNearDup(embeddings, idCol, vecCol, simThreshold))
      .select(col("va").cast("long").as("va"), col("vb").cast("long").as("vb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r19 strategy split (the dd8/gr1 size-gate discipline, r18
    // verdict #3): a job-listener measurement showed the distributed tail
    // scheduling 19 driver jobs / ~2.2 s over a 698-PAIR materialized
    // graph — pure constants. A pair graph within the gate collects
    // once and the whole core/border/noise/CC tail is driver-side
    // arithmetic + ONE broadcast map over the corpus frame (zero
    // exchanges); above the gate, the keyed-agg tail below is
    // unchanged. The gate probe is limit(cap + 1) — one job, and the
    // rows it returns ARE the graph when it fits.
    val head = pr0.limit(smallGraphMaxPairs + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (head.length <= smallGraphMaxPairs) {
      pr0.unpersist(false)
      return dbscanSmallGraph(embeddings, head, minPts, idCol)
    }
    val pr = pr0
    // symmetrized neighbor lists feed THREE consumers (degree count,
    // core-core filter, border assignment) that share no exchange
    val sym = pr.unionByName(pr.select(col("vb").as("va"), col("va").as("vb")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nc = sym.groupBy(col("va").as("vec_id"))
      .agg(count(lit(1)).cast("long").as("n_neighbors"))
    val core = nc.filter(col("n_neighbors") >= minPts).select("vec_id")
    val cce = sym
      .join(core.select(col("vec_id").as("va")), Seq("va"), "left_semi")
      .join(core.select(col("vec_id").as("vb")), Seq("vb"), "left_semi")
      .filter(col("va") < col("vb"))
    // CC labels cover only cores WITH a core neighbor; isolated cores
    // fall back to their own id via the coalesce
    val cc = Dedup.duplicateClusters(cce, aCol = "va", bCol = "vb")
      .select(col("doc_id").as("vec_id"), col("cluster"))
    val coreCl = core.join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), col("vec_id")).as("cluster"))
    val borderCl = sym
      .join(core.select(col("vec_id").as("va")), Seq("va"), "left_anti")
      .join(coreCl.select(col("vec_id").as("vb"), col("cluster")), "vb")
      .groupBy(col("va").as("vec_id"))
      .agg(min(col("cluster")).as("cluster"))
    val base = embeddings.select(col(idCol).cast("long").as("vec_id"))
      .join(nc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
    base
      .join(coreCl.select(col("vec_id"), col("cluster").as("ccl")),
        Seq("vec_id"), "left")
      .join(borderCl.select(col("vec_id"), col("cluster").as("bcl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_neighbors"),
        when(col("ccl").isNotNull, lit("core"))
          .when(col("bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).cast("long").as("cluster"))
  }

  /** The driver-side DBSCAN tail for pair graphs within
    * `smallGraphMaxPairs` — semantics IDENTICAL to the distributed
    * keyed-agg tail (spec-pinned fast == loop, the
    * [[Dedup.duplicateClusters]] / [[GraphRank.pageRankFixedPoint]]
    * parity discipline):
    *   - n_neighbors = symmetrized pair-row count per id;
    *   - core ⇔ n_neighbors ≥ minPts;
    *   - cluster label = MIN id of the core's core-connected component
    *     (union-find with path halving = the hash-min loop's fixed
    *     point), isolated cores label themselves;
    *   - border = non-core, label = min cluster among core neighbors;
    *   - everything else noise (−1).
    * The verdict map is graph-vertex-sized (≤ 2·pairs), broadcast into
    * ONE narrow typed pass over the corpus frame — zero exchanges
    * downstream of pair generation.
    */
  private def dbscanSmallGraph(
      embeddings: DataFrame,
      prRows: Array[(Long, Long)],
      minPts: Int,
      idCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val deg = new scala.collection.mutable.HashMap[Long, Long]()
    prRows.foreach { case (a, b) =>
      deg.update(a, deg.getOrElse(a, 0L) + 1L)
      deg.update(b, deg.getOrElse(b, 0L) + 1L)
    }
    val isCore = new scala.collection.mutable.HashSet[Long]()
    deg.foreach { case (id, n) => if (n >= minPts) isCore += id }
    // union-find over core-core edges, path halving (Dedup.unionFind's
    // convention); component label = min member id
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent.getOrElse(r, r)
        parent.update(r, parent.getOrElse(p, p))
        r = parent.getOrElse(r, r)
      }
      r
    }
    prRows.foreach { case (a, b) =>
      if (isCore.contains(a) && isCore.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
    }
    // core labels: min id per component (roots are minimal because
    // unions always point the larger root at the smaller)
    val coreCluster = new scala.collection.mutable.HashMap[Long, Long]()
    isCore.foreach(id => coreCluster.update(id, find(id)))
    // border: min cluster among CORE neighbors
    val borderCluster = new scala.collection.mutable.HashMap[Long, Long]()
    def offer(x: Long, coreNb: Long): Unit =
      if (!isCore.contains(x) && isCore.contains(coreNb)) {
        val c = coreCluster(coreNb)
        borderCluster.update(x, math.min(borderCluster.getOrElse(x, c), c))
      }
    prRows.foreach { case (a, b) => offer(a, b); offer(b, a) }
    // verdict map: id -> (n_neighbors, role, cluster)
    val verdicts = new java.util.HashMap[Long, (Long, String, Long)]()
    deg.foreach { case (id, n) =>
      val v =
        if (isCore.contains(id)) (n, "core", coreCluster(id))
        else borderCluster.get(id) match {
          case Some(c) => (n, "border", c)
          case None => (n, "noise", -1L)
        }
      verdicts.put(id, v)
    }
    val bc = spark.sparkContext.broadcast(verdicts)
    embeddings.select(col(idCol).cast("long").as("vec_id")).as[Long]
      .mapPartitions { it =>
        val m = bc.value
        it.map { id =>
          val v = m.get(id)
          if (v == null) (id, 0L, "noise", -1L)
          else (id, v._1, v._2, v._3)
        }
      }
      .toDF("vec_id", "n_neighbors", "role", "cluster")
  }

  /** Round-6 squared-L2 argmin over the candidate centroids: the fold
    * the cl1 mirror replays. Ties on the rounded distance resolve to
    * the lower cluster id (candidates arrive in cid order); ragged
    * vectors compare over the common prefix.
    */
  private[operators] def nearest(
      cands: Array[(Int, Array[Double])], v: Array[Double]): (Int, Double) = {
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < cands.length) {
      val cv = cands(c)._2
      val n = math.min(v.length, cv.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val dd = v(i) - cv(i)
        s += dd * dd
        i += 1
      }
      val r = TextAnalysis.round6(s)
      if (r < bestD) { bestD = r; best = cands(c)._1 }
      c += 1
    }
    (best, bestD)
  }
}
