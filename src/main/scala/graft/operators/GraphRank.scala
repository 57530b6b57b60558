package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus curation: PageRank over the domain
  * graph, the classic crawl-prioritization / domain-authority signal a
  * web-scale training-data pipeline feeds into source weighting (the
  * same role the per-source quality priors play in [[Sampling]]'s
  * mixture operators — this derives the prior from link structure
  * instead of declaring it).
  *
  * Arithmetic is INTEGER FIXED-POINT on purpose: ranks live in units
  * of 1e-9 of the total mass, every division is integral (`div`), so
  * the iteration trajectory is EXACTLY reproducible — across runs,
  * across partitionings (long addition is commutative/associative, so
  * distributed sum order cannot perturb results), and across engines
  * (the DuckDB oracle unrolls the same iterations CTE-by-CTE and
  * matches bit-for-bit). Floating-point PageRank cannot promise any of
  * that: a re-partition reorders the sums and the low bits walk. The
  * truncation bias (each `div` drops < 1 unit = 1e-9 mass) is the
  * price, and it is bounded by edges × iters units — irrelevant at
  * ranking granularity. Dangling mass (nodes with no out-edges) drops
  * each iteration, the standard simplification.
  *
  * Scale shape (nodes = domains, edges = host-level links: ~1e8 rows
  * at web scale): per iteration ONE keyed join of the edge frame with
  * the rank frame on `src` plus one `dst`-keyed partial-agg sum, then
  * a left join back onto the node frame — all hash-keyed, nothing
  * global, nothing on the driver except the node COUNT (one scalar).
  * The edge frame with its out-degree column is computed once outside
  * the loop and reused every iteration. Overflow bound: per-edge
  * `rank * w` needs w < 2^63 / 1e9 ≈ 9.2e9 — cap or pre-normalize
  * pathological edge weights above that.
  */
object GraphRank {

  /** Total rank mass, in fixed-point units (1.0 == 1e9). */
  val MassUnits: Long = 1000000000L
  /** Damping factor as an integer percentage (0.85). */
  val DampingPct: Long = 85L

  /** `iters` rounds of fixed-point PageRank over a weighted edge list
    * `(src: string, dst: string, w: long)`. Returns `(node, rank)`
    * with rank in units of 1e-9 (sums to ~MassUnits minus dangling /
    * truncation loss).
    *
    * Strategy choice, same discipline as
    * [[Dedup.duplicateClusters]]'s `smallGraphMaxEdges`: an
    * (aggregated) edge list at or under the cap collects to the driver
    * and iterates locally — 2 jobs total instead of 3 per iteration —
    * because the integer arithmetic is EXACTLY the same either way
    * (spec-pinned fast==loop). Above the cap, the distributed loop:
    * per iteration one src-keyed join of edges×ranks, one dst-keyed
    * partial-agg sum, one left join back onto nodes. Plan depth grows
    * linearly with `iters`; `localCheckpoint` the returned frame
    * between calls if you chain many more rounds than the default
    * handful.
    */
  def pageRankFixedPoint(
      edges: DataFrame,
      iters: Int,
      smallGraphMaxEdges: Long = 100000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    if (smallGraphMaxEdges > 0 && e.count() <= smallGraphMaxEdges) {
      // driver fast path: cap-bounded state, identical trajectory
      val rows = e.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val outW = rows.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
      val n = nodes.length.toLong
      require(n > 0, "pageRank over an empty edge list")
      val basePart = (MassUnits - DampingPct * MassUnits / 100L) / n
      var rank = nodes.map(_ -> MassUnits / n).toMap
      (0 until iters).foreach { _ =>
        val in = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (s, d, w) =>
          in(d) = in.getOrElse(d, 0L) + rank(s) * w / outW(s)
        }
        rank = nodes.map(nd =>
          nd -> (basePart + DampingPct * in.getOrElse(nd, 0L) / 100L)).toMap
      }
      import spark.implicits._
      nodes.map(nd => (nd, rank(nd))).toSeq.toDF("node", "rank")
    } else {
      val out = e.groupBy("src").agg(sum("w").as("out_w"))
      val eo = e.join(out, "src")
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
      val n = nodes.count()
      require(n > 0, "pageRank over an empty edge list")
      val basePart = (MassUnits - DampingPct * MassUnits / 100L) / n
      var ranks = nodes.select(col("node"), lit(MassUnits / n).as("rank"))
      var i = 0
      while (i < iters) {
        val contrib = eo.join(ranks, eo("src") === ranks("node"))
          .select(col("dst"), expr("(rank * w) div out_w").as("c"))
        val inMass = contrib.groupBy("dst").agg(sum("c").as("sc"))
        ranks = nodes.join(inMass, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(basePart) + expr(s"($DampingPct * coalesce(sc, CAST(0 AS BIGINT))) div 100"))
              .as("rank"))
        i += 1
      }
      ranks
    }
  }

  /** `iters` rounds of fixed-point HITS (Kleinberg's hubs and
    * authorities — the other classic link-centrality prior a curation
    * pipeline derives source weights from; PageRank rewards being
    * linked FROM good pages, HITS separates pages that point AT good
    * content, the hub signal a crawler's frontier scoring wants).
    *
    * Same determinism contract as [[pageRankFixedPoint]], with the
    * normalization each HITS round needs done in EXACT wide integers:
    * raw scores are sums of `rank × w` products (summed as
    * decimal(38,0) here, HUGEINT in the DuckDB mirror — both exact,
    * both order-independent), and the re-normalization
    * `(raw × 1e9) div total` is integral division of exact integers,
    * so the trajectory is bit-reproducible across partitionings and
    * engines. Bounds: per-edge `rank·w` needs w < 9.2e9 (the PageRank
    * cap note), and `total·1e9` must fit decimal(38,0) → total raw
    * mass < 1e29 — ~10 orders looser than web-scale needs.
    *
    * Nodes with no in-edges get authority 0; no out-edges, hub 0 (the
    * dangling simplification). Scale shape per iteration: two keyed
    * edge×score joins + two dst/src-keyed partial-agg sums + two
    * broadcast-scalar normalizations — nothing global but the two
    * 1-row totals. Each normalization reads its raw scores twice, so it
    * materializes them first (`localCheckpoint`, one job): the plan
    * stays the same size however many rounds run.
    *
    * @return (node, hub, authority) in units of 1e-9 of each side's
    *         normalized mass
    */
  def hitsFixedPoint(
      edges: DataFrame,
      iters: Int,
      smallGraphMaxEdges: Long = 100000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    if (smallGraphMaxEdges > 0 && e.count() <= smallGraphMaxEdges) {
      // driver fast path — BigInt replays the decimal/HUGEINT arithmetic
      val rows = e.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
      val n = nodes.length.toLong
      require(n > 0, "hits over an empty edge list")
      var hub = nodes.map(_ -> BigInt(MassUnits / n)).toMap
      var auth = nodes.map(_ -> BigInt(0)).toMap
      def normalize(raw: Map[String, BigInt]): Map[String, BigInt] = {
        val tot = raw.values.sum
        nodes.map(nd => nd -> (if (tot == 0) BigInt(0)
          else raw.getOrElse(nd, BigInt(0)) * MassUnits / tot)).toMap
      }
      (0 until iters).foreach { _ =>
        val ar = scala.collection.mutable.HashMap.empty[String, BigInt]
        rows.foreach { case (s, d, w) =>
          ar(d) = ar.getOrElse(d, BigInt(0)) + hub(s) * w
        }
        auth = normalize(ar.toMap)
        val hr = scala.collection.mutable.HashMap.empty[String, BigInt]
        rows.foreach { case (s, d, w) =>
          hr(s) = hr.getOrElse(s, BigInt(0)) + auth(d) * w
        }
        hub = normalize(hr.toMap)
      }
      import spark.implicits._
      nodes.map(nd => (nd, hub(nd).toLong, auth(nd).toLong)).toSeq
        .toDF("node", "hub", "authority")
    } else {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
      val n = nodes.count()
      require(n > 0, "hits over an empty edge list")
      var hub = nodes.select(col("node"), lit(MassUnits / n).as("s"))
      var auth: DataFrame = null
      def normalized(raw: DataFrame, key: String): DataFrame = {
        // read twice (the total and the join): without the eager cut each
        // normalization would double the plan, 4x per iteration
        val r = raw.localCheckpoint(eager = true)
        val tot = r.agg(sum("raw").as("t"))
        nodes.join(r, col("node") === col(key), "left")
          .crossJoin(broadcast(tot))
          .select(col("node"),
            coalesce(expr(s"(raw * $MassUnits) div t"), lit(0L)).as("s"))
      }
      var i = 0
      while (i < iters) {
        auth = normalized(
          e.join(hub, e("src") === hub("node"))
            .select(col("dst"),
              (col("s").cast("decimal(38,0)") * col("w")).as("c"))
            .groupBy("dst").agg(sum("c").as("raw")), "dst")
        hub = normalized(
          e.join(auth, e("dst") === auth("node"))
            .select(col("src"),
              (col("s").cast("decimal(38,0)") * col("w")).as("c"))
            .groupBy("src").agg(sum("c").as("raw")), "src")
        i += 1
      }
      hub.select(col("node"), col("s").as("hub"))
        .join(auth.select(col("node"), col("s").as("authority")), "node")
        .select(col("node"), col("hub"), col("authority"))
    }
  }

  /** Authority-weighted corpus sampling: the PageRank prior feeding
    * the mixture sampler — keep probability per source ∝ its rank
    * share, decided per document by the same integer mix32-threshold
    * rule every [[Sampling]] operator uses (coordination-free, exactly
    * reproducible). `thr = rank·1e6 div total` stays integral end to
    * end, so the whole chain — 5 PageRank iterations included —
    * mirrors exactly.
    *
    * Scale shape: the rank frame is domain-count-sized → broadcast
    * onto a narrow per-doc decision pass; the single-row total rides a
    * broadcast cross join. No corpus shuffle anywhere.
    */
  def authoritySample(documents: DataFrame, iters: Int = 5): DataFrame = {
    val ranks = pageRankFixedPoint(documentLinkEdges(documents), iters)
    val tot = ranks.agg(sum("rank").as("total"))
    val thr = ranks.crossJoin(broadcast(tot))
      .select(col("node"), expr("(rank * 1000000) div total").as("thr"))
    documents
      .join(broadcast(thr), col("source") === col("node"))
      .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("thr"),
        pmod(IvfSearch.mix32(col("doc_id")), lit(1000000L)).as("bucket"))
      .filter(col("bucket") < col("thr"))
      .select(col("doc_id"), col("source"), col("thr"))
  }

  /** `rounds` of SYNCHRONOUS weighted label propagation over the
    * undirected view of the edge list — Raghavan et al. 2007's
    * community detection, the cheap link-graph grouping a curation
    * pipeline uses to spot template farms and mirror clusters (next to
    * [[Dedup.duplicateClusters]]'s exact-duplicate components: LPA
    * groups by link AFFINITY, CC by shared content).
    *
    * Determinism (async LPA is famously run-order-dependent; this is
    * the reproducible variant): updates are synchronous (round r+1
    * reads only round r), a node's new label = the neighbor label with
    * the LARGEST incident edge-weight sum, ties to the
    * lexicographically smallest label, and a node with no neighbors
    * keeps its own id forever. Integer weight sums — no float votes.
    *
    * Strategy split ([[pageRankFixedPoint]]'s discipline): at or under
    * `smallGraphMaxEdges` aggregated undirected edges the graph
    * collects and iterates on the driver (identical trajectory,
    * spec-pinned fast == loop); above it, per round ONE src-keyed join
    * of the symmetrized edge frame with the label frame, one
    * (dst, label)-keyed partial-agg vote sum, and the argmax folded
    * into a second dst-keyed aggregate as `min(struct(-c, lbl))` —
    * order-free, no rank window. Label state is one row per node per
    * round; plan depth grows linearly with `rounds`.
    *
    * @return (node, label, csize) — the final community label and its
    *         member count
    */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int,
      smallGraphMaxEdges: Long = 100000L): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    // undirected symmetrization, parallel edges merged
    val ue = e0.select(col("src"), col("dst"), col("w"))
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum("w").cast("long").as("w"))
    if (smallGraphMaxEdges > 0 && ue.count() <= smallGraphMaxEdges) {
      val rows = ue.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // tie-breaks MUST match the distributed path's min(struct(-c, lbl)),
      // which compares UTF8String bytes (= code points) — plain Scala
      // String ordering is UTF-16 code units and mis-orders
      // supplementary characters (the Bpe.codePointCompare rule)
      val cpOrd: Ordering[String] =
        (a: String, b: String) => graft.functions.Bpe.codePointCompare(a, b)
      val nodes = rows.map(_._1).distinct.sorted(cpOrd)
      var lbl = nodes.map(n => n -> n).toMap
      (0 until rounds).foreach { _ =>
        val votes = scala.collection.mutable.HashMap.empty[(String, String), Long]
        rows.foreach { case (s, d, w) =>
          val k = (d, lbl(s))
          votes(k) = votes.getOrElse(k, 0L) + w
        }
        val byNode = votes.toSeq.groupBy(_._1._1)
        lbl = nodes.map { n =>
          byNode.get(n) match {
            case None => n -> lbl(n)
            case Some(vs) =>
              n -> vs.map { case ((_, l), c) => (l, c) }
                .minBy { case (l, c) => (-c, l) }(
                  Ordering.Tuple2(Ordering.Long, cpOrd))._1
          }
        }.toMap
      }
      val out = nodes.map(n => (n, lbl(n)))
      val sizes = out.groupBy(_._2).map { case (l, g) => l -> g.size.toLong }
      out.map { case (n, l) => (n, l, sizes(l)) }.toSeq
        .toDF("node", "label", "csize")
    } else {
      val nodes = ue.select(col("src").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("lbl"))
      var i = 0
      while (i < rounds) {
        val votes = ue.join(labels, ue("src") === labels("node"))
          .groupBy(col("dst"), col("lbl"))
          .agg(sum("w").cast("long").as("c"))
        // argmax folded into a dst-keyed agg: min over (-c, lbl) IS
        // (largest vote, then smallest label) — no rank window
        val winners = votes
          .groupBy(col("dst"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("m"))
          .select(col("dst"), col("m.lbl").as("wl"))
        labels = nodes.join(winners, col("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("wl"), col("node")).as("lbl"))
        i += 1
      }
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).cast("long").as("csize"))
      labels.join(sizes, "lbl")
        .select(col("node"), col("lbl").as("label"), col("csize"))
    }
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * undirected link graph — the structural-quality signal next to
    * PageRank/HITS centralities and LPA communities: link farms and
    * boilerplate navigation rings show up as abnormally high (or
    * exactly zero) clustering at a given degree.
    *
    * Algorithm: the degree-ordered ORIENTATION form of node-iterator
    * triangle counting. Every undirected edge {u, v} orients from the
    * (degree, node)-smaller endpoint to the larger; in that total
    * order each triangle has exactly ONE apex with out-edges to the
    * other two, so apex wedges (pairs of out-neighbors) joined against
    * the canonical edge set count every triangle exactly once. The
    * orientation is the hub-safety device: a degree-d hub's wedge
    * count is C(outdeg, 2) with outdeg = O(sqrt(m)) under this
    * orientation, not C(d, 2) — the difference between a web-scale
    * celebrity node exploding the join and not.
    *
    * `lcc_micro = (2·tri·1e6) div (deg·(deg−1))` — pure integer
    * division (deg < 2 → 0), exactly mirrorable.
    *
    * Scale shape: symmetrize+distinct (one exchange), degree agg (one
    * exchange), two keyed joins to attach endpoint degrees, the apex
    * self-join on the oriented source, one semi-join against canonical
    * edges, a 3-way explode + count. No windows, no driver state, no
    * all-pairs anywhere.
    */
  def triangleStats(edges: DataFrame): DataFrame =
    triangleStatsManaged(edges)._1

  /** [[triangleStats]] with the caller-managed cache-release thunk
    * (the bm25TopKManaged convention): the canonical edge frame
    * persists for its two consumers (orientation build + the triangle
    * semi-join) and the returned result is LAZY, so loops invoke the
    * thunk after the final action instead of leaking one cached frame
    * per call for the session lifetime.
    */
  def triangleStatsManaged(edges: DataFrame): (DataFrame, () => Unit) = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = e0.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(e0.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
    val canon = und.filter(col("a") < col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
    val tri = wedges.join(canon,
      canon("a") === least(col("x"), col("y")) &&
        canon("b") === greatest(col("x"), col("y")), "left_semi")
    val tn = tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).cast("long").as("triangles"))
    val out = deg.join(tn, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc_micro",
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).cast("long"))
    (out, () => { canon.unpersist(false); () })
  }

  /** Deterministic document→domain link edges for the `documents`
    * fixture: each doc contributes its source domain plus two
    * arithmetically-derived outlinks (`src{(7·id+3) mod 20}`,
    * `src{(13·id+5) mod 20}`), aggregated to a weighted edge list.
    * Stands in for real host-level outlink extraction (which is a
    * narrow parse of the text column); both engines derive it from the
    * same arithmetic so the oracle sees the identical graph.
    */
  def documentLinkEdges(docs: DataFrame): DataFrame = {
    val a = docs.select(col("source").as("src"),
      concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst"))
    val b = docs.select(col("source").as("src"),
      concat(lit("src"), ((col("doc_id") * 13 + 5) % 20).cast("string")).as("dst"))
    a.union(b).groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }
}
