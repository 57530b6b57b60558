package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Clustering, Decontamination, Dedup, Dsir, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.queries.QueryDef.BoundedSortOps

/** Training-data pipeline surface: dedup, similarity search, text
  * analysis, multimodal plumbing (north-star extensions from SURVEY.md
  * §2.b). EVERY query here carries a full DuckDB oracle (rows + schema
  * + value hash): the probabilistic ops (MinHash-LSH, SimHash, sign-LSH,
  * IVF, decontamination) are mirrored scale-true — the SQL replays the
  * engine's own fixed-seed hashes, band folds, bucket caps, hyperplanes
  * and Lloyd steps, so the oracle reproduces the banded pair sets even
  * when the caps engage; the media ops are checked via lossless-codec
  * round-trips against the generating formula.
  */
object DataPipeline {

  /** The fixture query-vector ids every ANN entry (brute / LSH / IVF)
    * probes for. PlanSpec derives its expected IN-list predicate from
    * this value, so changing the fixture can't silently break the gate.
    * The DuckDB mirrors select the same set as `vec_id < 5`.
    */
  val AnnQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  // -------------------------------------------------------------- dedup
  val dd1_exact_dedup = QueryDef.sqlChecked(
    "dd1_exact_dedup",
    """SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin) { (s, d) =>
    Dedup.exact(Tables.documents(s, d)).orderBy("h")
  }

  /** Word-3-gram Jaccard pairs at J >= 0.5 — dd3's oracle, mirroring the
    * engine's doc-frequency cap exactly: shingles in > 1000 docs are
    * dropped BEFORE sizes/intersections (same keep/join shape as the
    * dd2/dd4/dd5b mirrors), so engine and oracle agree even at scales
    * where the cap engages. The reported jaccard is then Jaccard over
    * the capped sets — the engine's declared semantics.
    */
  private def ngramJaccardSqlFor(docsRel: String, cap: Int): String =
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM $docsRel),
      |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
      |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
      |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap),
      |shk AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |sz AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT da, db, round(i*1.0/(sa.n + sb.n - i), 4) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE 2*i >= (sa.n + sb.n - i)
      |ORDER BY da, db""".stripMargin

  private val NgramJaccardSql = ngramJaccardSqlFor("documents", 1000)

  /** Full MinHash-LSH mirror, generated from the SAME fixed-seed
    * parameter table the engine uses: DuckDB replays the 31-bit shingle
    * hash, all 64 universal hashes, the per-band fold, the bucket-size
    * cap, the banded candidate join, and the exact-Jaccard verification
    * — so the oracle reproduces the LSH pair set exactly at ANY scale
    * (an exact-Jaccard oracle would diverge on the rare pair the banding
    * misses, or whenever the bucket cap engages).
    */
  private def minhashLshSqlFor(docsRel: String, cap: Int): String = {
    val params = graft.functions.TextHashing.minhashParams(64)
    val paramRows = params.zipWithIndex
      .map { case ((a, b), k) => s"($k, ${a}, ${b})" }.mkString(",\n   ")
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM $docsRel),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |hs0 AS (SELECT doc_id, s, ${polySql("s", 41)} AS hv FROM sh),
       |${mixCtes("hs0", "hsm", keep = Seq("doc_id", "s"), cols = Seq("hv"))},
       |hs AS (SELECT doc_id, hv % 2147483648 AS h FROM hsm),
       |params AS (SELECT * FROM (VALUES
       |   $paramRows) t(k, a, b)),
       |sig AS (SELECT doc_id, k, min((a * h + b) % 2305843009213693951) AS sg
       |        FROM hs, params GROUP BY doc_id, k),
       |band AS (SELECT s0.doc_id, s0.k // 2 AS band,
       |          (((97 * 131 + (s0.sg % 4294967296)) % 4294967296) * 131
       |            + (s1.sg % 4294967296)) % 4294967296 AS band_hash
       |         FROM sig s0 JOIN sig s1 ON s1.doc_id = s0.doc_id AND s1.k = s0.k + 1
       |         WHERE s0.k % 2 = 0),
       |keep AS (SELECT band, band_hash FROM band GROUP BY band, band_hash
       |         HAVING count(*) <= $cap),
       |bk AS (SELECT b.doc_id, b.band, b.band_hash FROM band b JOIN keep USING (band, band_hash)),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bk x JOIN bk y USING (band, band_hash) WHERE x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.da
       |                      JOIN sh b2 ON b2.doc_id = c.db AND b2.s = a.s
       |          GROUP BY c.da, c.db)
       |SELECT da, db, round(i*1.0/(sa.n + sb.n - i), 4) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE 2*i >= (sa.n + sb.n - i)
       |ORDER BY da, db""".stripMargin
  }

  private val MinhashLshSql = minhashLshSqlFor("documents", 1000)

  /** dd18 mirror: the dd2 chain through `cand`, then per-pair
    * signature agreement (64 rows per pair), TRUE Jaccard via the
    * shingle join, and per-decile INTEGER micro-sums divided once —
    * bit-equal doubles before the round-4 edge.
    */
  private val MinhashCalibrationSql: String = {
    val params = graft.functions.TextHashing.minhashParams(64)
    val paramRows = params.zipWithIndex
      .map { case ((a, b), k) => s"($k, ${a}, ${b})" }.mkString(",\n   ")
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |hs0 AS (SELECT doc_id, s, ${polySql("s", 41)} AS hv FROM sh),
       |${mixCtes("hs0", "hsm", keep = Seq("doc_id", "s"), cols = Seq("hv"))},
       |hs AS (SELECT doc_id, hv % 2147483648 AS h FROM hsm),
       |params AS (SELECT * FROM (VALUES
       |   $paramRows) t(k, a, b)),
       |sig AS MATERIALIZED (SELECT doc_id, k, min((a * h + b) % 2305843009213693951) AS sg
       |        FROM hs, params GROUP BY doc_id, k),
       |band AS (SELECT s0.doc_id, s0.k // 2 AS band,
       |          (((97 * 131 + (s0.sg % 4294967296)) % 4294967296) * 131
       |            + (s1.sg % 4294967296)) % 4294967296 AS band_hash
       |         FROM sig s0 JOIN sig s1 ON s1.doc_id = s0.doc_id AND s1.k = s0.k + 1
       |         WHERE s0.k % 2 = 0),
       |keep AS (SELECT band, band_hash FROM band GROUP BY band, band_hash
       |         HAVING count(*) <= 1000),
       |bk AS (SELECT b.doc_id, b.band, b.band_hash FROM band b JOIN keep USING (band, band_hash)),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bk x JOIN bk y USING (band, band_hash) WHERE x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.da
       |                      JOIN sh b2 ON b2.doc_id = c.db AND b2.s = a.s
       |          GROUP BY c.da, c.db),
       |estc AS (SELECT c.da, c.db,
       |          CAST(sum(CASE WHEN sa.sg = sb.sg THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |         FROM cand c JOIN sig sa ON sa.doc_id = c.da
       |                     JOIN sig sb ON sb.doc_id = c.db AND sb.k = sa.k
       |         GROUP BY c.da, c.db),
       |pair AS (SELECT e.da, e.db, e.agree, coalesce(i.i, 0) AS i,
       |          coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(i.i, 0) AS u
       |         FROM estc e
       |         LEFT JOIN inter i ON i.da = e.da AND i.db = e.db
       |         LEFT JOIN sz sa ON sa.doc_id = e.da
       |         LEFT JOIN sz sb ON sb.doc_id = e.db),
       |p2 AS (SELECT * FROM pair WHERE u > 0)
       |SELECT CAST((agree * 10) // 64 AS INTEGER) AS bin,
       | CAST(count(*) AS BIGINT) AS n_pairs,
       | round(CAST(sum(agree) AS DOUBLE)/(64*count(*)), 4) AS est_jaccard,
       | round(CAST(sum(i) AS DOUBLE)/sum(u), 4) AS true_jaccard
       |FROM p2 GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** LSH index calibration card ([[Dedup.minhashCalibration]]):
    * estimated vs true Jaccard per estimate decile over the candidate
    * set — the lexical-index QA twin of emb2's ANN recall audit.
    */
  val dd18_minhash_calibration = QueryDef.sqlChecked(
    "dd18_minhash_calibration", MinhashCalibrationSql) { (s, d) =>
    Dedup.minhashCalibration(Tables.documents(s, d)).orderSmall("bin")
  }

  /** dd15/dc9 mirror builder: the dd2 chain with the candidate stage
    * split on arbitrary predicates — index-side buckets capped at
    * build time over index members only, probe-side bands uncapped,
    * candidates = index × probe bucket collisions; the exact-Jaccard
    * verify is unchanged.
    */
  private def incrementalMinhashSqlFor(
      corpusPred: String => String, batchPred: String): String = {
    val params = graft.functions.TextHashing.minhashParams(64)
    val paramRows = params.zipWithIndex
      .map { case ((a, b), k) => s"($k, ${a}, ${b})" }.mkString(",\n   ")
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |hs0 AS (SELECT doc_id, s, ${polySql("s", 41)} AS hv FROM sh),
       |${mixCtes("hs0", "hsm", keep = Seq("doc_id", "s"), cols = Seq("hv"))},
       |hs AS (SELECT doc_id, hv % 2147483648 AS h FROM hsm),
       |params AS (SELECT * FROM (VALUES
       |   $paramRows) t(k, a, b)),
       |sig AS (SELECT doc_id, k, min((a * h + b) % 2305843009213693951) AS sg
       |        FROM hs, params GROUP BY doc_id, k),
       |band AS (SELECT s0.doc_id, s0.k // 2 AS band,
       |          (((97 * 131 + (s0.sg % 4294967296)) % 4294967296) * 131
       |            + (s1.sg % 4294967296)) % 4294967296 AS band_hash
       |         FROM sig s0 JOIN sig s1 ON s1.doc_id = s0.doc_id AND s1.k = s0.k + 1
       |         WHERE s0.k % 2 = 0),
       |keep AS (SELECT band, band_hash FROM band WHERE ${corpusPred("doc_id")}
       |         GROUP BY band, band_hash HAVING count(*) <= 1000),
       |bkc AS (SELECT b.doc_id, b.band, b.band_hash FROM band b
       |        JOIN keep USING (band, band_hash) WHERE ${corpusPred("b.doc_id")}),
       |bkb AS (SELECT doc_id, band, band_hash FROM band WHERE $batchPred),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bkc x JOIN bkb y USING (band, band_hash)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.da
       |                      JOIN sh b2 ON b2.doc_id = c.db AND b2.s = a.s
       |          GROUP BY c.da, c.db)
       |SELECT da, db, round(i*1.0/(sa.n + sb.n - i), 4) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE 2*i >= (sa.n + sb.n - i)
       |ORDER BY da, db""".stripMargin
  }

  private val IncrementalMinhashSql: String =
    incrementalMinhashSqlFor(c => s"$c < 400", "doc_id >= 400")

  /** dd15: incremental near-dup of a batch (doc_id >= 400) against the
    * released corpus's persisted band index — the near-dup half of the
    * weekly refresh. 8 organic cross-split pairs at gate SF.
    */
  val dd15_incremental_neardup = QueryDef.sqlChecked(
    "dd15_incremental_neardup", IncrementalMinhashSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    Dedup.incrementalNearDup(batch, corpus,
        corpusBands = Dedup.minhashBands(corpus))
      .orderBy("da", "db")
  }

  val dd2_minhash_lsh = QueryDef.sqlChecked("dd2_minhash_lsh", MinhashLshSql) { (s, d) =>
    Dedup.minhashLsh(Tables.documents(s, d)).orderBy("da", "db")
  }

  val dd3_ngram_jaccard = QueryDef.sqlChecked("dd3_ngram_jaccard", NgramJaccardSql) { (s, d) =>
    Dedup.ngramJaccard(Tables.documents(s, d)).orderBy("da", "db")
  }

  // ------------------------------------------- cap-engagement fixtures
  /** The dd2/dd3 hot-key caps never fire on the organic testdata, so
    * their mirror CTEs would be dead code at gate scale. These entries
    * union CapN identical boilerplate docs (> cap = CapMax) onto a
    * fixed slice of `documents` IN-QUERY, in both engines, so the cap
    * provably engages under the oracle: uncapped, the boilerplate
    * block alone would emit CapN*(CapN-1)/2 = 1770 J=1.0 pairs; capped,
    * it emits none (every boilerplate band bucket / shingle exceeds the
    * cap) — CappedFixtureSpec asserts that delta against the engine.
    */
  private val BoilerText =
    "zq alpha zq bravo zq charlie zq delta zq echo zq foxtrot zq golf"
  private[graft] val CapN = 60
  private[graft] val CapMax = 40

  private[graft] def cappedDocs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val boiler = s.range(CapN.toLong)
      .select((col("id") + 1000000L).as("doc_id"), lit(BoilerText).as("text"))
    base.unionByName(boiler)
  }

  private val CappedDocsRel =
    s"""(SELECT doc_id, text FROM documents WHERE doc_id < 100
       | UNION ALL
       | SELECT 1000000 + r AS doc_id, '$BoilerText' AS text FROM range($CapN) t(r))"""
      .stripMargin

  val dd2_capped_minhash = QueryDef.sqlChecked(
    "dd2_capped_minhash", minhashLshSqlFor(CappedDocsRel, CapMax)) { (s, d) =>
    Dedup.minhashLsh(cappedDocs(s, d), maxBucket = CapMax).orderBy("da", "db")
  }

  val dd3_capped_jaccard = QueryDef.sqlChecked(
    "dd3_capped_jaccard", ngramJaccardSqlFor(CappedDocsRel, CapMax)) { (s, d) =>
    Dedup.ngramJaccard(cappedDocs(s, d), maxDocFreq = CapMax).orderBy("da", "db")
  }

  /** dd16: directional containment (Broder) — C(A,B) = |sh(A)∩sh(B)| /
    * |sh(A)| >= 0.8. The fixture plants the asymmetry symmetric Jaccard
    * misses: 7000001 is the PREFIX HALF of doc 42's token stream (fully
    * contained, C = 1.0, while J = |A|/|B| is far below any Jaccard
    * threshold) and 7000002 is a 3/4-prefix of doc 43 plus five novel
    * tokens (contained at C ~0.85-0.9 but not fully). Both engines
    * derive the planted texts from the SAME token-slice arithmetic, so
    * the fixture itself is oracle-checked. Both orientations of every
    * co-shingled pair are tested; organic pairs ride along.
    */
  val dd16_containment = QueryDef.sqlChecked(
    "dd16_containment",
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 7000001 AS doc_id, array_to_string(ws[1:len(ws)//2], ' ') AS text
      |  FROM (SELECT list_filter(string_split(text,' '), x -> x <> '') AS ws
      |        FROM documents WHERE doc_id = 42)
      |  UNION ALL
      |  SELECT 7000002 AS doc_id,
      |    array_to_string(ws[1:(3*len(ws))//4], ' ') || ' nva nvb nvc nvd nve' AS text
      |  FROM (SELECT list_filter(string_split(text,' '), x -> x <> '') AS ws
      |        FROM documents WHERE doc_id = 43)),
      |wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |       FROM aug),
      |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
      |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
      |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
      |shk AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |sz AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT da, db, i, sa.n AS na, sb.n AS nb
      |      FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db)
      |SELECT CAST(contained AS BIGINT) AS contained,
      |       CAST(container AS BIGINT) AS container, containment FROM (
      |  SELECT da AS contained, db AS container, round(i*1.0/na, 4) AS containment
      |  FROM j WHERE i*10000 >= 8000*na
      |  UNION ALL
      |  SELECT db, da, round(i*1.0/nb, 4) FROM j WHERE i*10000 >= 8000*nb)
      |ORDER BY contained, container""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val base = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def toks = Dedup.tokens(col("text"))
    val p1 = docs.filter(col("doc_id") === 42)
      .select(lit(7000001L).as("doc_id"),
        array_join(slice(toks, lit(1), (size(toks) / 2).cast("int")), " ").as("text"))
    val p2 = docs.filter(col("doc_id") === 43)
      .select(lit(7000002L).as("doc_id"),
        concat(
          array_join(slice(toks, lit(1), (size(toks) * 3 / 4).cast("int")), " "),
          lit(" nva nvb nvc nvd nve")).as("text"))
    Dedup.containment(base.unionByName(p1).unionByName(p2))
      .orderBy("contained", "container")
  }

  /** DuckDB re-derivation of the char-level poly32 fold (TextHashing.poly32),
    * WITHOUT the avalanche finalizer — mix steps are staged as CTE columns
    * by the callers. Every intermediate < 2^48, so plain BIGINT arithmetic
    * mirrors the Scala loop exactly.
    */
  private def polySql(expr: String, seed: Int): String =
    s"""list_reduce(list_concat([CAST($seed AS BIGINT)],
       |  list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, b) -> (a*131 + b) % 4294967296)""".stripMargin

  /** The three avalanche stages of TextHashing.poly32, as chained CTEs
    * rewriting columns `cols` in place; `keep` columns pass through.
    */
  private def mixCtes(prev: String, out: String, keep: Seq[String], cols: Seq[String]): String = {
    def stage(from: String, to: String, f: String => String) =
      s"$to AS (SELECT ${(keep ++ cols.map(c => s"${f(c)} AS $c")).mkString(", ")} FROM $from)"
    Seq(
      stage(prev, s"${out}_m1", c => s"xor($c, $c >> 16)"),
      stage(s"${out}_m1", s"${out}_m2", c => s"($c * 40503) % 4294967296"),
      stage(s"${out}_m2", out, c => s"xor($c, $c >> 13)")).mkString(",\n")
  }

  /** Full SimHash mirror, PARAMETERIZED over the r19 wide-signature
    * knob: the oracle recomputes every 32-bit token hash word (seeds =
    * `TextHashing.simhashSeeds` prefix), the per-bit votes, all
    * signature words, AND the engine's band bucketing (bandBits =
    * nBits/8, 8 bands) with the bucket-size cap — so it reproduces the
    * banded join's exact pair set at ANY scale (a brute-force oracle
    * would diverge the moment the cap drops an oversized bucket).
    * `seeds.length * 32` = nBits; dd4 = (17, 31) @ 8-bit bands, dd4b =
    * (17, 31, 37, 41) @ 16-bit bands.
    */
  private def simhashSql(seeds: Seq[Int], maxHamming: Int, maxBucket: Int): String = {
    val w = seeds.length
    val nBits = 32 * w
    val bandBits = nBits / 8
    val sw = (0 until w).map(i => s"s$i")
    val vw = (0 until w).map(i => s"v$i")
    val hw = (0 until w).map(i => s"h$i")
    val hashes = seeds.zipWithIndex
      .map { case (seed, i) => s"${polySql("w", seed)} AS h$i" }.mkString(", ")
    val votes = vw.zip(hw)
      .map { case (v, h) =>
        s"sum(CASE WHEN (($h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS $v" }
      .mkString(",\n         ")
    val sigCols = sw.zip(vw)
      .map { case (s, v) =>
        s"CAST(sum(CASE WHEN $v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS $s" }
      .mkString(",\n        ")
    val sigCoalesce = sw.map(s => s"coalesce(s.$s, 0) AS $s").mkString(", ")
    val flatBit = sw.zipWithIndex.map { case (s, i) =>
      val hi = 32 * (i + 1)
      if (i == w - 1) s"($s >> (i - ${32 * i})) & 1"
      else s"WHEN i < $hi THEN ($s >> (i - ${32 * i})) & 1"
    } match {
      case cases => s"CASE ${cases.init.mkString(" ")} ELSE ${cases.last} END"
    }
    val hamSum = sw.map(s => s"bit_count(xor(a.$s, b.$s))").mkString(" + ")
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
       |h0 AS (SELECT doc_id, $hashes FROM tok),
       |${mixCtes("h0", "h", keep = Seq("doc_id"), cols = hw)},
       |bits AS (SELECT doc_id, j,
       |         $votes
       |         FROM h, range(32) r(j) GROUP BY doc_id, j),
       |sigagg AS (SELECT doc_id,
       |        $sigCols
       |       FROM bits GROUP BY doc_id),
       |sig AS (SELECT d.doc_id, $sigCoalesce
       |        FROM documents d LEFT JOIN sigagg s ON s.doc_id = d.doc_id),
       |flat AS (SELECT doc_id, i,
       |          $flatBit AS bit
       |         FROM sig, range($nBits) r(i)),
       |bytes AS (SELECT doc_id, i // $bandBits AS band,
       |           CAST(sum(bit << (${bandBits - 1} - (i % $bandBits))) AS BIGINT) AS byte_val
       |          FROM flat GROUP BY doc_id, i // $bandBits),
       |keep AS (SELECT band, byte_val FROM bytes GROUP BY band, byte_val
       |         HAVING count(*) <= $maxBucket),
       |bk AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b JOIN keep USING (band, byte_val)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bk a JOIN bk b USING (band, byte_val) WHERE a.doc_id < b.doc_id)
       |SELECT da, db,
       | CAST($hamSum AS INTEGER) AS hamming
       |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
       |WHERE $hamSum <= $maxHamming
       |ORDER BY da, db""".stripMargin
  }

  val dd4_simhash = QueryDef.sqlChecked("dd4_simhash",
    simhashSql(Seq(17, 31), maxHamming = 7, maxBucket = 1000)) { (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d)).orderBy("da", "db")
  }

  /** The wide-signature knob's oracle row (r19, verdict #1): 128-bit
    * signature, 16-bit bands — same 8 bands / Hamming <= 7 pigeonhole,
    * 65536 buckets per band where the 64-bit default's 256 saturate
    * around 256·cap documents (SCALE_SKEW's measured silent-recall
    * collapse). Identical documents pair at hamming 0 in either width;
    * organic 64-bit near-collisions thin out at 128 bits because the
    * same maxHamming is a relatively tighter bar.
    */
  val dd4b_simhash_wide = QueryDef.sqlChecked("dd4b_simhash_wide",
    simhashSql(Seq(17, 31, 37, 41), maxHamming = 7, maxBucket = 1000)) { (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d), nBits = 128).orderBy("da", "db")
  }

  /** Winnowing mirror (k=4, w=4): 4-gram hashes = poly63 of the joined
    * gram text; window minima over each w-gram run (tie direction is
    * value-irrelevant: only the min VALUE survives, deduped); documents
    * shorter than k+w-1 degenerate to the global min, same as the Scala
    * early-return. The engine's doc-frequency cap (fingerprints in
    * > 1000 docs dropped, counts computed post-cap) is mirrored with the
    * same keep/join CTEs as the other dedup mirrors.
    */
  private val WinnowSql =
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |gram AS (SELECT a.doc_id, a.i, a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w AS g
       |         FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |                    JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
       |                    JOIN tok d ON d.doc_id = a.doc_id AND d.i = a.i + 3),
       |gh0 AS (SELECT doc_id, i, ${polySql("g", 7)} AS ga, ${polySql("g", 13)} AS gb FROM gram),
       |${mixCtes("gh0", "ghm", keep = Seq("doc_id", "i"), cols = Seq("ga", "gb"))},
       |gh AS (SELECT doc_id, i, (ga % 2147483648) * 4294967296 + gb AS h,
       |        count(*) OVER (PARTITION BY doc_id) AS ng
       |       FROM ghm),
       |winm AS (SELECT doc_id, i, ng,
       |          min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
       |         FROM gh),
       |fp AS (SELECT DISTINCT doc_id, mh AS fp FROM winm WHERE i <= greatest(1, ng - 3)),
       |keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
       |fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM fpk GROUP BY doc_id),
       |pair AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS shared
       |         FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT da, db, shared, round(shared*1.0/least(ca.n, cb.n), 4) AS containment
       |FROM pair JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
       |WHERE shared >= 2 ORDER BY da, db""".stripMargin

  val dd6_winnow_fragments = QueryDef.sqlChecked("dd6_winnow_fragments", WinnowSql) { (s, d) =>
    Dedup.fragmentOverlap(Tables.documents(s, d)).orderBy("da", "db")
  }

  val dd5_embedding_neardup = QueryDef.sqlChecked(
    "dd5_embedding_neardup",
    """SELECT a.vec_id AS va, b.vec_id AS vb,
      | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.45
      |ORDER BY va, vb""".stripMargin) { (s, d) =>
    Dedup.embeddingNearDup(Tables.embeddings(s, d)).orderBy("va", "vb")
  }

  /** Full mirror of the sub-quadratic embedding near-dup: DuckDB replays
    * the 64 hyperplane sign bits (same fixed-seed constants), the byte
    * banding, the bucket cap, the banded candidate join, and the exact
    * cosine verification — scale-true like the other LSH mirrors.
    * NOTE: the CTE chain pins the operator defaults dim=64 and
    * maxBucket=1000 (the sim threshold is each consumer's WHERE);
    * calling lshNearDupPairs with other banding arguments needs a
    * regenerated mirror. The chain (ending in `sc(va, vb, s)`) is
    * shared with the cl4_dbscan_lsh mirror, so the two cannot drift.
    */
  /** The sign-LSH candidate CTE chain (bytes/keep/bk/cand/sc over a
    * supplied `e(vec_id, v)` CTE), generated from the SAME fixed-seed
    * hyperplanes the engine uses, for any (nBits, bandBits) banding —
    * dd5b pins the 64×8 default, dd5c the 128×16 wide shape.
    */
  private def embeddingLshCtes(
      nBits: Int, bandBits: Int, eCte: String): String = {
    val planes = Similarity.hyperplanes(dim = 64, nBits = nBits)
    val nBands = nBits / bandBits
    def planeArr(p: Seq[Double]) =
      p.map(x => java.lang.Double.toString(x)).mkString("[", ", ", "]")
    val bandExprs = (0 until nBands).map { b =>
      (0 until bandBits).map { t =>
        val w = 1L << (bandBits - 1 - t)
        s"(CASE WHEN list_inner_product(v, ${planeArr(planes(bandBits * b + t))}) >= 0 THEN $w ELSE 0 END)"
      }.mkString("(", "\n    + ", ")")
    }
    s"""$eCte,
       |bytes AS (SELECT vec_id, unnest(range($nBands)) AS band,
       |           unnest([${bandExprs.mkString(",\n  ")}]) AS byte_val
       |          FROM e),
       |keep AS (SELECT band, byte_val FROM bytes GROUP BY band, byte_val
       |         HAVING count(*) <= 1000),
       |bk AS (SELECT b.vec_id, b.band, b.byte_val FROM bytes b JOIN keep USING (band, byte_val)),
       |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |         FROM bk a JOIN bk b USING (band, byte_val) WHERE a.vec_id < b.vec_id),
       |sc AS (SELECT c.va, c.vb, list_cosine_similarity(x.v, y.v) AS s
       |       FROM cand c JOIN e x ON x.vec_id = c.va JOIN e y ON y.vec_id = c.vb)""".stripMargin
  }

  private val PlainEmbeddingCte: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  private val EmbeddingLshCtes: String =
    embeddingLshCtes(64, 8, PlainEmbeddingCte)

  private val EmbeddingLshSql: String =
    s"""WITH $EmbeddingLshCtes
       |SELECT va, vb, round(s, 4) AS sim FROM sc WHERE s > 0.45 ORDER BY va, vb""".stripMargin

  val dd5b_embedding_lsh = QueryDef.sqlChecked("dd5b_embedding_lsh", EmbeddingLshSql) { (s, d) =>
    Similarity.lshNearDupPairs(Tables.embeddings(s, d)).orderBy("va", "vb")
  }

  /** dd5c: the WIDE-BAND sign-LSH shape — 128 hyperplane bits in 8
    * bands of 16 (65536 buckets per band vs the byte default's 256),
    * the knob that keeps bucket occupancy sparse at corpus sizes where
    * 8-bit bands saturate and the per-bucket pair fan-out goes
    * quadratic (the r16 soak forensic; soaked sub-linear at 200k
    * vectors as dd5c_embedding_lsh16). The 16-bit recall curve sits on
    * high-sim pairs only (p^16 per band), so the fixture plants 40
    * near-identical copies in-query — each base vector scaled ×1.001,
    * cosine exactly 1.0, signature bit-identical by sign invariance —
    * keeping candidate generation, the cap, and verification all live
    * at every SF; both engines derive the plant from the same
    * arithmetic. The plant ids offset by max(vec_id)+1 DERIVED FROM
    * THE DATA in both engines — a fixed +10000 collided with real ids
    * on the sf1.0 replica fixture (vec_ids to 19999), and duplicated
    * ids let the bucket flatMap emit self-pairs the mirror's
    * `a.vec_id < b.vec_id` excludes.
    */
  private val WideLshSql: String =
    s"""WITH ${embeddingLshCtes(128, 16,
         """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |      UNION ALL
           |      SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
           |             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
           |      FROM embeddings WHERE vec_id < 40)""".stripMargin)}
       |SELECT va, vb, round(s, 4) AS sim FROM sc WHERE s > 0.45 ORDER BY va, vb""".stripMargin

  val dd5c_embedding_lsh_wide = QueryDef.sqlChecked(
    "dd5c_embedding_lsh_wide", WideLshSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    // collision-proof plant offset: one bounded scalar collect (the
    // fixture-collect discipline) — ids land strictly above every
    // organic id at any SF
    val plantOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val planted = emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + lit(plantOff)).as("vec_id"),
        expr("transform(embedding, x -> x * 1.001d)").as("embedding"))
    Similarity.lshNearDupPairs(emb.unionByName(planted),
        nBits = 128, bandBits = 16)
      .orderBy("va", "vb")
  }

  // -------------------------------------------------- similarity search
  private val AnnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |sc AS (SELECT qid, vec_id, round(list_cosine_similarity(qv, v), 4) AS sim
      |       FROM q, e WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, sim,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
      |      FROM sc)
      |SELECT qid, rnk, vec_id, sim FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  val ann_brute_topk = QueryDef.sqlChecked("ann_brute_topk", AnnBruteSql) {
    (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ann_label_noise: k-NN neighborhood label-agreement over the first
    * 50 vectors — the mislabel screen. The mirror replays the brute
    * top-10 (round-4 cosine, id tiebreak), the per-label vote, and the
    * (votes desc, label asc) argmax, so the whole decision chain is
    * hash-checked, not just the agreement bit.
    */
  val ann_label_noise = QueryDef.sqlChecked(
    "ann_label_noise",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
      |sc AS (SELECT qid, vec_id, round(list_cosine_similarity(qv, v), 4) AS sim
      |       FROM q, e WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
      |            AS INTEGER) AS rnk
      |      FROM sc),
      |nb AS (SELECT r.qid, e.label AS lbl FROM r JOIN e USING (vec_id)
      |       WHERE rnk <= 10),
      |vt AS (SELECT qid, lbl, CAST(count(*) AS BIGINT) AS votes FROM nb
      |       GROUP BY qid, lbl),
      |tp AS (SELECT qid, lbl AS top_label, votes,
      |        row_number() OVER (PARTITION BY qid ORDER BY votes DESC, lbl) AS rn
      |       FROM vt)
      |SELECT o.vec_id AS qid, o.label AS own_label, tp.top_label, tp.votes,
      | o.label = tp.top_label AS agree
      |FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < 50) o
      |JOIN tp ON tp.qid = o.vec_id AND tp.rn = 1
      |ORDER BY qid""".stripMargin) { (s, d) =>
    Similarity.labelNoiseScreen(Tables.embeddings(s, d),
        queryIds = (0L until 50L).toSeq)
      .orderSmall("qid")
  }

  /** Full LSH mirror, generated from the SAME fixed-seed hyperplanes and
    * probe ring the engine uses: DuckDB recomputes every signature bit
    * (list_inner_product is the same left-to-right fold as our dot), the
    * query-side probe expansion, the bucket equi-join, and the exact
    * cosine top-k — so the oracle checks the candidate set AND the
    * similarities, not just "rows came back".
    */
  private val AnnLshSql: String = {
    val planes = Similarity.hyperplanes(dim = 64, nBits = 8)
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(x => java.lang.Double.toString(x)).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(v, $arr) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")
    val flips = Similarity.probeFlips(8).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v, $sigExpr AS bucket FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM sig WHERE vec_id < 5),
       |probes AS (SELECT qid, qv, xor(qbucket, f.flip) AS probe_bucket
       |           FROM q, (SELECT unnest($flips) AS flip) f),
       |sc AS (SELECT p.qid, c.vec_id, round(list_cosine_similarity(p.qv, c.v), 4) AS sim
       |       FROM sig c JOIN probes p ON c.bucket = p.probe_bucket AND c.vec_id <> p.qid),
       |r AS (SELECT qid, vec_id, sim,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM sc)
       |SELECT qid, rnk, vec_id, sim FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  val ann_lsh_topk = QueryDef.sqlChecked("ann_lsh_topk", AnnLshSql) { (s, d) =>
    Similarity.lshTopK(Tables.embeddings(s, d), queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** Full IVF mirror: DuckDB re-runs the ENTIRE deterministic quantizer —
    * the same mix32 hash-sample filter (Mod mirrors ivfTopK's
    * fitSampleMod; 1 keeps every row at test scale, the filter shape is
    * what scales), the same init (first-16 sample vectors), the same
    * `lloydIter` Lloyd steps unrolled as CTEs, the same round-6
    * distances with cell-id tiebreaks — then the probe join and exact
    * cosine top-k. Rounding at every cross-engine comparison point
    * absorbs summation-order FP noise (see IvfSearch scaladoc).
    */
  /** Shared IVF mirror prefix: the Lloyd-fit + corpus-assignment CTE
    * chain (`e` .. `asg`), replayed from `rel` with the operator's
    * fixed constants. Used by both the IVF top-k and the semantic-dedup
    * mirrors; `matAsg` adds a MATERIALIZED hint when `asg` is
    * referenced more than once downstream (DuckDB inlines non-recursive
    * CTEs per reference — the pipe1 lesson).
    */
  private def ivfAsgCtes(rel: String, matAsg: Boolean): String = {
    val K = 16; val Iter = 3; val Dim = 64; val Mod = 1L; val MaxRows = 4096
    def d2(v: String, c: String) =
      s"round(list_sum(list_transform(range($Dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    val iters = (1 to Iter).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT vec_id, v, cell FROM (
         |  SELECT s.vec_id, s.v, c.cell,
         |    row_number() OVER (PARTITION BY s.vec_id ORDER BY ${d2("s.v", "c.c")}, c.cell) AS rn
         |  FROM samp s CROSS JOIN $prev c) WHERE rn = 1),
         |m$i AS (SELECT cell, dim, avg(x) AS m FROM (
         |  SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a$i)
         |  GROUP BY cell, dim),
         |c$i AS (SELECT p.cell, coalesce(n.c, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT cell, list(round(m, 6) ORDER BY dim) AS c FROM m$i GROUP BY cell) n
         |  ON n.cell = p.cell)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $rel),
       |samp AS (SELECT vec_id, v FROM (
       |  SELECT vec_id, v, xor(m2, m2 >> 13) AS hs FROM (
       |    SELECT vec_id, v, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |      SELECT vec_id, v, ((vec_id % 4294967296) + 4294967296) % 4294967296 AS h0 FROM e)))
       |  WHERE hs % $Mod = 0 ORDER BY hs, vec_id LIMIT $MaxRows),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |        list_transform(v, x -> round(x, 6)) AS c
       |       FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT $K)),
       |$iters,
       |asg AS ${if (matAsg) "MATERIALIZED " else ""}(SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.v", "c.c")}, c.cell) AS rn
       |  FROM e CROSS JOIN c$Iter c) WHERE rn = 1)""".stripMargin
  }

  private val AnnIvfSql: String = {
    val NProbe = 4; val Dim = 64; val Iter = 3
    def d2(v: String, c: String) =
      s"round(list_sum(list_transform(range($Dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    s"""WITH ${ivfAsgCtes("embeddings", matAsg = false)},
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |pc AS (SELECT qid, qv, cell FROM (
       |  SELECT q.qid, q.qv, c.cell,
       |    row_number() OVER (PARTITION BY q.qid ORDER BY ${d2("q.qv", "c.c")}, c.cell) AS rn
       |  FROM q CROSS JOIN c$Iter c) WHERE rn <= $NProbe),
       |sc AS (SELECT p.qid, a.vec_id, round(list_cosine_similarity(p.qv, a.v), 4) AS sim
       |       FROM asg a JOIN pc p ON a.cell = p.cell AND a.vec_id <> p.qid),
       |r AS (SELECT qid, vec_id, sim,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM sc)
       |SELECT qid, rnk, vec_id, sim FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  val ann_ivf_topk = QueryDef.sqlChecked("ann_ivf_topk", AnnIvfSql) { (s, d) =>
    graft.operators.IvfSearch.ivfTopK(Tables.embeddings(s, d),
      queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ANN QA: recall@10 of the IVF index against the exact brute-force
    * panel ([[Similarity.annRecall]]). The mirror nests BOTH existing
    * oracle chains as subqueries, so the recall audit is cross-checked
    * end-to-end — index drift, probe-ring changes, or quantizer
    * re-fits all move this hash.
    */
  val emb2_ann_recall = QueryDef.sqlChecked(
    "emb2_ann_recall",
    s"""WITH b AS (SELECT qid, vec_id FROM ($AnnBruteSql)),
       |i AS (SELECT qid, vec_id, 1 AS hit FROM ($AnnIvfSql)),
       |h AS (SELECT b.qid, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hit
       |      FROM b LEFT JOIN i ON i.qid = b.qid AND i.vec_id = b.vec_id
       |      GROUP BY b.qid)
       |SELECT qid, n_hit, round(n_hit / 10.0, 4) AS recall_at_10
       |FROM h ORDER BY qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annRecall(
      Similarity.bruteForceTopK(emb, queryIds = AnnQueryIds),
      graft.operators.IvfSearch.ivfTopK(emb, queryIds = AnnQueryIds),
      k = 10)
      .orderSmall("qid")
  }

  /** ann_pq: product-quantization ADC top-k ([[graft.operators.PqSearch.pqTopK]],
    * Jégou et al. 2011). The mirror replays the ENTIRE per-subspace
    * Lloyd fit (first-8-ids init on each 16-dim slice, round-6 argmins
    * with lower-code ties, one round-6 mean update, the re-assign that
    * IS the encode), then the query-side distance tables as integer
    * MICRO-distances and the 4-integer ADC sums — so codebook drift,
    * encode drift, or table drift all break the hash, and the summed
    * distances compare EXACTLY (integer arithmetic: no fold order, no
    * final rounding edge). Pins the operator defaults (m=8, k=8,
    * iters=2, topK=10).
    */
  private val AnnPqSql: String = {
    val M = 8; val K = 8; val SubDim = 8
    def d2(v: String, c: String) =
      s"round(list_sum(list_transform(range($SubDim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |es AS MATERIALIZED (SELECT vec_id, sub,
       |        list_slice(v, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM e CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |c0 AS (SELECT sub, rn - 1 AS code, sv AS c FROM (
       |  SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
       |  FROM es) WHERE rn <= $K),
       |a1 AS (SELECT vec_id, sub, sv, code FROM (
       |  SELECT es.vec_id, es.sub, es.sv, c.code,
       |    row_number() OVER (PARTITION BY es.vec_id, es.sub
       |      ORDER BY ${d2("es.sv", "c.c")}, c.code) AS rn
       |  FROM es JOIN c0 c ON c.sub = es.sub) WHERE rn = 1),
       |m1 AS (SELECT sub, code, dim, avg(x) AS m FROM (
       |  SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS dim FROM a1)
       |  GROUP BY sub, code, dim),
       |c1 AS MATERIALIZED (SELECT sub, code, list(round(m, 6) ORDER BY dim) AS c
       |      FROM m1 GROUP BY sub, code),
       |a2 AS (SELECT vec_id, sub, code FROM (
       |  SELECT es.vec_id, es.sub, c.code,
       |    row_number() OVER (PARTITION BY es.vec_id, es.sub
       |      ORDER BY ${d2("es.sv", "c.c")}, c.code) AS rn
       |  FROM es JOIN c1 c ON c.sub = es.sub) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, sub, sv FROM es WHERE vec_id < 5),
       |dt AS (SELECT q.qid, c.sub, c.code,
       |        CAST(round(${d2("q.sv", "c.c")} * 1000000) AS BIGINT) AS dmic
       |       FROM q JOIN c1 c ON c.sub = q.sub),
       |ad AS (SELECT dt.qid, a.vec_id, CAST(sum(dt.dmic) AS BIGINT) AS adist_micro
       |       FROM a2 a JOIN dt ON dt.sub = a.sub AND dt.code = a.code
       |         AND a.vec_id <> dt.qid
       |       GROUP BY dt.qid, a.vec_id),
       |r AS (SELECT qid, vec_id, adist_micro,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adist_micro, vec_id)
       |            AS INTEGER) AS rnk
       |      FROM ad)
       |SELECT qid, rnk, vec_id, adist_micro FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  val ann_pq_topk = QueryDef.sqlChecked("ann_pq_topk", AnnPqSql) { (s, d) =>
    graft.operators.PqSearch.pqTopK(Tables.embeddings(s, d),
      queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ann_ivfpq: the composed FAISS-style IVF-PQ index
    * ([[graft.operators.PqSearch.ivfPqTopK]], non-residual variant) —
    * coarse cells prune, integer ADC scores. The mirror splices the
    * PROVEN fragments end to end: [[ivfAsgCtes]] replays the coarse
    * quantizer (shared verbatim with ann_ivf — the two oracles can't
    * drift apart), then the per-subspace Lloyd fit runs over the SAME
    * bounded hash sample (`samp`) the coarse fit used, the corpus
    * encode, the probe-cell selection, and the cell-restricted ADC sum.
    * Every stage of both quantizers is hash-checked in one statement.
    */
  private def ivfPqSqlFor(corpusRel: String, queryRel: String): String = {
    val M = 8; val K = 8; val SubDim = 8; val NProbe = 4; val Iter = 3; val Dim = 64
    def d2f(v: String, c: String) =
      s"round(list_sum(list_transform(range($Dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    def d2s(v: String, c: String) =
      s"round(list_sum(list_transform(range($SubDim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    s"""WITH ${ivfAsgCtes(corpusRel, matAsg = false)},
       |pqs AS (SELECT vec_id, sub,
       |        list_slice(v, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM samp CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |ps0 AS (SELECT sub, rn - 1 AS code, sv AS c FROM (
       |  SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
       |  FROM pqs) WHERE rn <= $K),
       |pa1 AS (SELECT vec_id, sub, sv, code FROM (
       |  SELECT pqs.vec_id, pqs.sub, pqs.sv, c.code,
       |    row_number() OVER (PARTITION BY pqs.vec_id, pqs.sub
       |      ORDER BY ${d2s("pqs.sv", "c.c")}, c.code) AS rn
       |  FROM pqs JOIN ps0 c ON c.sub = pqs.sub) WHERE rn = 1),
       |pm1 AS (SELECT sub, code, dim, avg(x) AS m FROM (
       |  SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS dim FROM pa1)
       |  GROUP BY sub, code, dim),
       |ps1 AS MATERIALIZED (SELECT sub, code, list(round(m, 6) ORDER BY dim) AS c
       |      FROM pm1 GROUP BY sub, code),
       |ces AS (SELECT vec_id, sub,
       |        list_slice(v, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM e CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |enc AS (SELECT vec_id, sub, code FROM (
       |  SELECT ces.vec_id, ces.sub, c.code,
       |    row_number() OVER (PARTITION BY ces.vec_id, ces.sub
       |      ORDER BY ${d2s("ces.sv", "c.c")}, c.code) AS rn
       |  FROM ces JOIN ps1 c ON c.sub = ces.sub) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM $queryRel),
       |pc AS (SELECT qid, cell FROM (
       |  SELECT q.qid, c.cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${d2f("q.qv", "c.c")}, c.cell) AS rn
       |  FROM q CROSS JOIN c$Iter c) WHERE rn <= $NProbe),
       |qs AS (SELECT qid, sub,
       |        list_slice(qv, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM q CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |dt AS (SELECT qs.qid, c.sub, c.code,
       |        CAST(round(${d2s("qs.sv", "c.c")} * 1000000) AS BIGINT) AS dmic
       |       FROM qs JOIN ps1 c ON c.sub = qs.sub),
       |ad AS (SELECT dt.qid, a.vec_id, CAST(sum(dt.dmic) AS BIGINT) AS adist_micro
       |       FROM enc a
       |       JOIN asg g ON g.vec_id = a.vec_id
       |       JOIN pc ON pc.cell = g.cell
       |       JOIN dt ON dt.sub = a.sub AND dt.code = a.code AND dt.qid = pc.qid
       |       WHERE a.vec_id <> pc.qid
       |       GROUP BY dt.qid, a.vec_id),
       |r AS (SELECT qid, vec_id, adist_micro,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adist_micro, vec_id)
       |            AS INTEGER) AS rnk
       |      FROM ad)
       |SELECT qid, rnk, vec_id, adist_micro FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  private val AnnIvfPqSql: String =
    ivfPqSqlFor("embeddings", "(SELECT * FROM embeddings WHERE vec_id < 5)")

  val ann_ivfpq_topk = QueryDef.sqlChecked("ann_ivfpq_topk", AnnIvfPqSql) { (s, d) =>
    graft.operators.PqSearch.ivfPqTopK(Tables.embeddings(s, d),
      queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ann_pq_residual: residual IVF-PQ
    * ([[graft.operators.PqSearch.ivfPqResidualTopK]], the FAISS
    * `by_residual=true` layout) — PQ codebooks quantize
    * `x − centroid(cell(x))`, so the code budget spends on local
    * structure instead of re-describing cell positions. The mirror
    * splices the PROVEN coarse chain ([[ivfAsgCtes]], shared verbatim
    * with ann_ivf/ann_ivfpq), MATERIALIZES the final centroids (`cc` is
    * referenced five times — the gr3 per-reference-inlining lesson),
    * residualizes the sample / corpus / each (query, probed-cell) pair
    * with plain IEEE subtraction against the round-6 centroids, replays
    * the per-subspace Lloyd fit ON RESIDUALS, and scores through the
    * cell-aware integer ADC sum. Every arithmetic step is either
    * round-6-pinned or exact, so codebook, encode, and table drift all
    * break the hash.
    */
  private def ivfPqResidualSqlFor(corpusRel: String, queryRel: String): String = {
    val M = 8; val K = 8; val SubDim = 8; val NProbe = 4; val Iter = 3; val Dim = 64
    def d2f(v: String, c: String) =
      s"round(list_sum(list_transform(range($Dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    def d2s(v: String, c: String) =
      s"round(list_sum(list_transform(range($SubDim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    s"""WITH ${ivfAsgCtes(corpusRel, matAsg = false)},
       |cc AS MATERIALIZED (SELECT cell, c FROM c$Iter),
       |sasg AS (SELECT vec_id, v, cell FROM (
       |  SELECT s.vec_id, s.v, c.cell,
       |    row_number() OVER (PARTITION BY s.vec_id ORDER BY ${d2f("s.v", "c.c")}, c.cell) AS rn
       |  FROM samp s CROSS JOIN cc c) WHERE rn = 1),
       |sres AS (SELECT sa.vec_id,
       |        list_transform(range($Dim), j -> sa.v[j+1] - c.c[j+1]) AS rv
       |      FROM sasg sa JOIN cc c ON c.cell = sa.cell),
       |pqs AS (SELECT vec_id, sub,
       |        list_slice(rv, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM sres CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |ps0 AS (SELECT sub, rn - 1 AS code, sv AS c FROM (
       |  SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
       |  FROM pqs) WHERE rn <= $K),
       |pa1 AS (SELECT vec_id, sub, sv, code FROM (
       |  SELECT pqs.vec_id, pqs.sub, pqs.sv, c.code,
       |    row_number() OVER (PARTITION BY pqs.vec_id, pqs.sub
       |      ORDER BY ${d2s("pqs.sv", "c.c")}, c.code) AS rn
       |  FROM pqs JOIN ps0 c ON c.sub = pqs.sub) WHERE rn = 1),
       |pm1 AS (SELECT sub, code, dim, avg(x) AS m FROM (
       |  SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS dim FROM pa1)
       |  GROUP BY sub, code, dim),
       |ps1 AS MATERIALIZED (SELECT sub, code, list(round(m, 6) ORDER BY dim) AS c
       |      FROM pm1 GROUP BY sub, code),
       |cres AS (SELECT a.vec_id, a.cell,
       |        list_transform(range($Dim), j -> a.v[j+1] - c.c[j+1]) AS rv
       |      FROM asg a JOIN cc c ON c.cell = a.cell),
       |ces AS (SELECT vec_id, cell, sub,
       |        list_slice(rv, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM cres CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |enc AS (SELECT vec_id, cell, sub, code FROM (
       |  SELECT ces.vec_id, ces.cell, ces.sub, c.code,
       |    row_number() OVER (PARTITION BY ces.vec_id, ces.sub
       |      ORDER BY ${d2s("ces.sv", "c.c")}, c.code) AS rn
       |  FROM ces JOIN ps1 c ON c.sub = ces.sub) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM $queryRel),
       |pc AS (SELECT qid, cell FROM (
       |  SELECT q.qid, c.cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${d2f("q.qv", "c.c")}, c.cell) AS rn
       |  FROM q CROSS JOIN cc c) WHERE rn <= $NProbe),
       |qres AS (SELECT pc.qid, pc.cell,
       |        list_transform(range($Dim), j -> q.qv[j+1] - c.c[j+1]) AS rv
       |      FROM pc JOIN q ON q.qid = pc.qid JOIN cc c ON c.cell = pc.cell),
       |qs AS (SELECT qid, cell, sub,
       |        list_slice(rv, sub * $SubDim + 1, (sub + 1) * $SubDim) AS sv
       |      FROM qres CROSS JOIN (SELECT unnest(range($M)) AS sub) s),
       |dt AS (SELECT qs.qid, qs.cell, c.sub, c.code,
       |        CAST(round(${d2s("qs.sv", "c.c")} * 1000000) AS BIGINT) AS dmic
       |       FROM qs JOIN ps1 c ON c.sub = qs.sub),
       |ad AS (SELECT dt.qid, a.vec_id, CAST(sum(dt.dmic) AS BIGINT) AS adist_micro
       |       FROM enc a
       |       JOIN dt ON dt.cell = a.cell AND dt.sub = a.sub AND dt.code = a.code
       |       WHERE a.vec_id <> dt.qid
       |       GROUP BY dt.qid, a.vec_id),
       |r AS (SELECT qid, vec_id, adist_micro,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adist_micro, vec_id)
       |            AS INTEGER) AS rnk
       |      FROM ad)
       |SELECT qid, rnk, vec_id, adist_micro FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  private val AnnPqResidualSql: String =
    ivfPqResidualSqlFor("embeddings", "(SELECT * FROM embeddings WHERE vec_id < 5)")

  val ann_pq_residual = QueryDef.sqlChecked(
    "ann_pq_residual", AnnPqResidualSql) { (s, d) =>
    graft.operators.PqSearch.ivfPqResidualTopK(Tables.embeddings(s, d),
      queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ann_pq_incremental: the IVF-PQ steady state — the first 4/5 of the
    * vectors are the RELEASED corpus (model fit + codes frozen there);
    * the remaining 1/5 arrive as a batch and every batch vector probes
    * the code index ([[graft.operators.PqSearch.probePqCodes]]). The
    * released side is never re-encoded (the dd15 incremental contract,
    * embedding-index edition). The mirror is the SAME spliced IVF-PQ
    * chain with corpus/query relations swapped to the split — the
    * integer cutoff `(4·(max+1)) div 5` computes identically in both
    * engines.
    */
  private val AnnPqIncSql: String = ivfPqSqlFor(
    "(SELECT * FROM embeddings WHERE vec_id < (SELECT (4 * (max(vec_id) + 1)) // 5 FROM embeddings))",
    "(SELECT * FROM embeddings WHERE vec_id >= (SELECT (4 * (max(vec_id) + 1)) // 5 FROM embeddings))")

  val ann_pq_incremental = QueryDef.sqlChecked(
    "ann_pq_incremental", AnnPqIncSql) { (s, d) =>
    import org.apache.spark.sql.functions.{col, max}
    val emb = Tables.embeddings(s, d)
    val n = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) + 1
    val cut = 4 * n / 5
    val released = emb.filter(col("vec_id") < cut)
    val batch = emb.filter(col("vec_id") >= cut)
    val model = graft.operators.PqSearch.fitPqModel(released)
    graft.operators.PqSearch.probePqCodes(
        batch, model, graft.operators.PqSearch.encodePq(released, model))
      .orderSmall("qid", "rnk")
  }

  /** ann_brute_l2: exact squared-L2 top-k — the metric-matched baseline
    * for the PQ family (PQ quantizes L2; recall audits against cosine
    * would mis-grade it). Distances cross as integer micro-L2: the raw
    * double folds ascending-dim on both engines, so
    * `round(d2 * 1e6)::BIGINT` is exact.
    */
  private val AnnBruteL2Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |sc AS (SELECT qid, vec_id,
      |        CAST(round(list_sum(list_transform(range(64),
      |          j -> (qv[j+1] - v[j+1]) * (qv[j+1] - v[j+1]))) * 1000000) AS BIGINT)
      |          AS dist_micro
      |       FROM q, e WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, dist_micro,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY dist_micro, vec_id)
      |            AS INTEGER) AS rnk
      |      FROM sc)
      |SELECT qid, rnk, vec_id, dist_micro FROM r WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  val ann_brute_l2 = QueryDef.sqlChecked("ann_brute_l2", AnnBruteL2Sql) { (s, d) =>
    Similarity.bruteForceTopKL2(Tables.embeddings(s, d), queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** emb4: recall@10 of the PQ index against the exact L2 panel — the
    * acceptance number a PQ codebook re-fit ships with (the emb2
    * pattern, compressed-domain edition). The mirror nests BOTH oracle
    * chains as subqueries, so codebook drift, encode drift, or
    * baseline drift all move this hash.
    */
  val emb4_pq_recall = QueryDef.sqlChecked(
    "emb4_pq_recall",
    s"""WITH b AS (SELECT qid, vec_id FROM ($AnnBruteL2Sql)),
       |i AS (SELECT qid, vec_id, 1 AS hit FROM ($AnnPqSql)),
       |h AS (SELECT b.qid, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hit
       |      FROM b LEFT JOIN i ON i.qid = b.qid AND i.vec_id = b.vec_id
       |      GROUP BY b.qid)
       |SELECT qid, n_hit, round(n_hit / 10.0, 4) AS recall_at_10
       |FROM h ORDER BY qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, queryIds = AnnQueryIds),
      graft.operators.PqSearch.pqTopK(emb, queryIds = AnnQueryIds),
      k = 10)
      .orderSmall("qid")
  }

  /** emb5: recall@10 of the residual IVF-PQ index against the exact
    * squared-L2 panel — the metric-matched audit (the emb4 discipline)
    * that prices the residual layout's accuracy. The spec additionally
    * pins mean recall ≥ the non-residual index at equal code budget and
    * pruning. (Declared after [[AnnBruteL2Sql]] — the nested mirrors
    * interpolate at val-init order.)
    */
  val emb5_pq_residual_recall = QueryDef.sqlChecked(
    "emb5_pq_residual_recall",
    s"""WITH b AS (SELECT qid, vec_id FROM ($AnnBruteL2Sql)),
       |i AS (SELECT qid, vec_id, 1 AS hit FROM ($AnnPqResidualSql)),
       |h AS (SELECT b.qid, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hit
       |      FROM b LEFT JOIN i ON i.qid = b.qid AND i.vec_id = b.vec_id
       |      GROUP BY b.qid)
       |SELECT qid, n_hit, round(n_hit / 10.0, 4) AS recall_at_10
       |FROM h ORDER BY qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, queryIds = AnnQueryIds),
      graft.operators.PqSearch.ivfPqResidualTopK(emb, queryIds = AnnQueryIds),
      k = 10)
      .orderSmall("qid")
  }

  /** ann_sq8: scalar-quantization top-k ([[graft.operators.SqSearch]],
    * FAISS QT_8bit parity) — per-dimension min/max train, uint8 encode,
    * asymmetric full-query-vs-decoded-code squared L2. The mirror
    * replays the whole chain: the per-dim stats aggregate, the half-up
    * encode, and the ascending-dim decode/fold with ONE
    * `round(d²·1e6)` per pair (the ann_brute_l2 exactness argument —
    * both engines fold dimensions in ascending order, and the decode
    * expression `mn + cd·(mx−mn)/255` is structurally identical).
    */
  /** One SQ8 chain, two queries: `corpusRel` feeds the stats fit +
    * encode, `queryRel` yields the (qid, qv) probe panel — ann_sq8
    * splices the whole table against its own first-5 panel,
    * ann_sq8_incremental splices the released 4/5 against a batch-side
    * panel. Same CTEs everywhere, so the two oracles can't drift.
    */
  private def sq8SqlFor(corpusRel: String, queryRel: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $corpusRel),
      |st AS MATERIALIZED (
      |  SELECT j, min(v[j+1]) AS mn, max(v[j+1]) AS mx
      |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS j) dims
      |  GROUP BY j),
      |stl AS MATERIALIZED (
      |  SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
      |c AS MATERIALIZED (
      |  SELECT vec_id, list_transform(range(64), j ->
      |    CASE WHEN mxs[j+1] > mns[j+1]
      |         THEN CAST(floor((v[j+1] - mns[j+1])
      |                         / (mxs[j+1] - mns[j+1]) * 255.0 + 0.5) AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END) AS cd
      |  FROM e, stl),
      |q AS ($queryRel),
      |sc AS (SELECT qid, vec_id,
      |        CAST(round(list_sum(list_transform(range(64), j ->
      |          (qv[j+1] - (mns[j+1] + cd[j+1] * (mxs[j+1] - mns[j+1]) / 255.0))
      |          * (qv[j+1] - (mns[j+1] + cd[j+1] * (mxs[j+1] - mns[j+1]) / 255.0))
      |        )) * 1000000) AS BIGINT) AS adist_micro
      |       FROM q, c, stl WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, adist_micro,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adist_micro, vec_id)
      |            AS INTEGER) AS rnk
      |      FROM sc)
      |SELECT qid, rnk, vec_id, adist_micro FROM r WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  private val AnnSq8Sql: String = sq8SqlFor("embeddings",
    "SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5")

  val ann_sq8 = QueryDef.sqlChecked("ann_sq8", AnnSq8Sql) { (s, d) =>
    graft.operators.SqSearch.sq8TopK(Tables.embeddings(s, d),
        queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** ann_sq8_incremental: the SQ8 steady state — the first 4/5 of the
    * vectors are the RELEASED corpus (per-dim stats fit + uint8 codes
    * frozen there); vectors from the arriving 1/5 batch probe the code
    * index ([[graft.operators.SqSearch.probeSqCodes]]) by asymmetric
    * decode/fold. The released side is never re-encoded (the dd15
    * incremental contract, scalar-quantization edition); the probe
    * panel is the batch's first 5 vectors — the bounded audit-fixture
    * convention every ANN query here uses (production batches compose
    * the flat SQ scan under IVF/PQ coarse pruning). The mirror splices
    * the SAME SQ8 chain with corpus/query relations swapped to the
    * split; `(4·(max+1)) div 5` computes identically in both engines.
    */
  private val SqCutSql =
    "(SELECT (4 * (max(vec_id) + 1)) // 5 FROM embeddings)"

  private val AnnSq8IncSql: String = sq8SqlFor(
    s"(SELECT * FROM embeddings WHERE vec_id < $SqCutSql)",
    s"""SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       | FROM embeddings
       | WHERE vec_id >= $SqCutSql AND vec_id < $SqCutSql + 5""".stripMargin)

  val ann_sq8_incremental = QueryDef.sqlChecked(
    "ann_sq8_incremental", AnnSq8IncSql) { (s, d) =>
    import org.apache.spark.sql.functions.{col, max}
    val emb = Tables.embeddings(s, d)
    val n = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) + 1
    val cut = 4 * n / 5
    val released = emb.filter(col("vec_id") < cut)
    val batch = emb.filter(col("vec_id") >= cut && col("vec_id") < cut + 5)
    val model = graft.operators.SqSearch.fitSqModel(released)
    graft.operators.SqSearch.probeSqCodes(
        batch, model, graft.operators.SqSearch.encodeSq(released, model))
      .orderSmall("qid", "rnk")
  }

  /** emb7: recall@10 of the SQ8 index against the exact L2 panel — the
    * emb4 acceptance-audit pattern for the scalar-quantization layout.
    * Both oracle chains nest as subqueries, so stats drift, encode
    * drift, or baseline drift all move the hash.
    */
  val emb7_sq_recall = QueryDef.sqlChecked(
    "emb7_sq_recall",
    s"""WITH b AS (SELECT qid, vec_id FROM ($AnnBruteL2Sql)),
       |i AS (SELECT qid, vec_id, 1 AS hit FROM ($AnnSq8Sql)),
       |h AS (SELECT b.qid, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hit
       |      FROM b LEFT JOIN i ON i.qid = b.qid AND i.vec_id = b.vec_id
       |      GROUP BY b.qid)
       |SELECT qid, n_hit, round(n_hit / 10.0, 4) AS recall_at_10
       |FROM h ORDER BY qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, queryIds = AnnQueryIds),
      graft.operators.SqSearch.sq8TopK(emb, queryIds = AnnQueryIds),
      k = 10)
      .orderSmall("qid")
  }

  /** ann_ivfsq: IVF + residual SQ8
    * ([[graft.operators.SqSearch.ivfSqTopK]], the FAISS
    * `IndexIVFScalarQuantizer` `by_residual=true` layout — the last
    * rung of the compression ladder). The mirror splices the PROVEN
    * coarse chain ([[ivfAsgCtes]], shared verbatim with
    * ann_ivf/ann_ivfpq), residualizes corpus and (query, probed-cell)
    * pairs against the round-6 centroids, fits EXACT per-dim min/max
    * on the corpus residuals (the sq8 stats aggregate, residual
    * edition), half-up-encodes, and folds the ascending-dim decode
    * per pair.
    */
  private val AnnIvfSqSql: String = {
    val NProbe = 4; val Dim = 64; val Iter = 3
    def d2(v: String, c: String) =
      s"round(list_sum(list_transform(range($Dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"
    def dec(rv: String, cd: String) =
      s"($rv[j+1] - (mns[j+1] + $cd[j+1] * (mxs[j+1] - mns[j+1]) / 255.0))"
    s"""WITH ${ivfAsgCtes("embeddings", matAsg = false)},
       |cc AS MATERIALIZED (SELECT cell, c FROM c$Iter),
       |cres AS MATERIALIZED (SELECT a.vec_id, a.cell,
       |        list_transform(range($Dim), j -> a.v[j+1] - c.c[j+1]) AS rv
       |      FROM asg a JOIN cc c ON c.cell = a.cell),
       |st AS MATERIALIZED (
       |  SELECT j, min(rv[j+1]) AS mn, max(rv[j+1]) AS mx
       |  FROM cres CROSS JOIN (SELECT unnest(range($Dim)) AS j) dims
       |  GROUP BY j),
       |stl AS MATERIALIZED (
       |  SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs FROM st),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, cell, list_transform(range($Dim), j ->
       |    CASE WHEN mxs[j+1] > mns[j+1]
       |         THEN CAST(floor((rv[j+1] - mns[j+1])
       |                         / (mxs[j+1] - mns[j+1]) * 255.0 + 0.5) AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END) AS cd
       |  FROM cres, stl),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |pc AS (SELECT qid, cell FROM (
       |  SELECT q.qid, c.cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${d2("q.qv", "c.c")}, c.cell) AS rn
       |  FROM q CROSS JOIN cc c) WHERE rn <= $NProbe),
       |qres AS (SELECT pc.qid, pc.cell,
       |        list_transform(range($Dim), j -> q.qv[j+1] - c.c[j+1]) AS rv
       |      FROM pc JOIN q ON q.qid = pc.qid JOIN cc c ON c.cell = pc.cell),
       |sc AS (SELECT qr.qid, a.vec_id,
       |        CAST(round(list_sum(list_transform(range($Dim), j ->
       |          ${dec("qr.rv", "a.cd")} * ${dec("qr.rv", "a.cd")}
       |        )) * 1000000) AS BIGINT) AS adist_micro
       |       FROM enc a JOIN qres qr ON qr.cell = a.cell, stl
       |       WHERE a.vec_id <> qr.qid),
       |r AS (SELECT qid, vec_id, adist_micro,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adist_micro, vec_id)
       |            AS INTEGER) AS rnk
       |      FROM sc)
       |SELECT qid, rnk, vec_id, adist_micro FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  val ann_ivfsq = QueryDef.sqlChecked("ann_ivfsq", AnnIvfSqSql) { (s, d) =>
    graft.operators.SqSearch.ivfSqTopK(Tables.embeddings(s, d),
        queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** emb8: recall@10 of the IVF-SQ8 index against the exact L2 panel —
    * the acceptance audit pricing the coarse pruning + residual
    * quantization stack (the emb5 pattern, scalar edition).
    */
  val emb8_ivfsq_recall = QueryDef.sqlChecked(
    "emb8_ivfsq_recall",
    s"""WITH b AS (SELECT qid, vec_id FROM ($AnnBruteL2Sql)),
       |i AS (SELECT qid, vec_id, 1 AS hit FROM ($AnnIvfSqSql)),
       |h AS (SELECT b.qid, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hit
       |      FROM b LEFT JOIN i ON i.qid = b.qid AND i.vec_id = b.vec_id
       |      GROUP BY b.qid)
       |SELECT qid, n_hit, round(n_hit / 10.0, 4) AS recall_at_10
       |FROM h ORDER BY qid""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, queryIds = AnnQueryIds),
      graft.operators.SqSearch.ivfSqTopK(emb, queryIds = AnnQueryIds),
      k = 10)
      .orderSmall("qid")
  }

  /** emb6: hard-negative mining ([[Similarity.hardNegatives]]) — per
    * query, the top-10 nearest candidates OUTSIDE the positive band
    * (dist_micro < 1,400,000 counts as a positive/near-dup and must
    * never be served as a negative; at this corpus that band excludes
    * the ~5-10 closest candidates per query, so both branches are
    * live). `n_pos` (the excluded count) rides every row so the band's
    * effect is hash-checked, not just the surviving ranks.
    */
  val emb6_hard_negatives = QueryDef.sqlChecked(
    "emb6_hard_negatives",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |sc AS (SELECT qid, vec_id,
      |        CAST(round(list_sum(list_transform(range(64),
      |          j -> (qv[j+1] - v[j+1]) * (qv[j+1] - v[j+1]))) * 1000000) AS BIGINT)
      |          AS dist_micro
      |       FROM q, e WHERE vec_id <> qid),
      |np AS (SELECT qid, CAST(sum(CASE WHEN dist_micro < 1400000 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_pos FROM sc GROUP BY qid),
      |r AS (SELECT qid, vec_id, dist_micro,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY
      |           CASE WHEN dist_micro < 1400000 THEN 1 ELSE 0 END, dist_micro, vec_id)
      |         AS INTEGER) AS rnk
      |      FROM sc)
      |SELECT r.qid, r.rnk, r.vec_id, r.dist_micro, np.n_pos
      |FROM r JOIN np ON np.qid = r.qid
      |WHERE rnk <= 10 AND dist_micro >= 1400000
      |ORDER BY r.qid, rnk""".stripMargin) { (s, d) =>
    Similarity.hardNegatives(Tables.embeddings(s, d), queryIds = AnnQueryIds)
      .orderSmall("qid", "rnk")
  }

  /** Semantic-dedup fixture: 40 exact copies of organic vectors are
    * planted in-query in BOTH engines (re-keyed +10000) — an identical
    * vector lands in the identical cell and scores cosine 1.0, so every
    * planted copy is deterministically dropped (its original has the
    * lower id) while organic within-cell near-dups above the dd5
    * threshold exercise the non-trivial branch. The mirror replays the
    * full Lloyd fit + assignment (shared `ivfAsgCtes` chain, asg
    * MATERIALIZED because it feeds the cap ranking AND the verdict),
    * the hash-rank cell cap, the intra-cell pair join, and the verdict
    * — scale-true like the other LSH/IVF mirrors. NOTE: pins the
    * operator defaults (threshold=0.45, nClusters=16, maxCellSize
    * 100000).
    */
  private val Dd10Sql: String = {
    // plant offset derived from the data (the dd5c collision rule):
    // fixed +10000 would alias real ids on fixtures above sf0.1
    val rel = """(SELECT vec_id, embedding FROM embeddings
                 | UNION ALL
                 | SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
                 |        embedding FROM embeddings
                 | WHERE vec_id < 40)""".stripMargin
    s"""WITH ${ivfAsgCtes(rel, matAsg = true)},
       |ax AS (SELECT vec_id, v, cell, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT vec_id, v, cell, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT vec_id, v, cell, ((vec_id % 4294967296) + 4294967296) % 4294967296 AS h0
       |    FROM asg))),
       |pt AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |  SELECT vec_id, v, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY hs, vec_id) AS rk FROM ax)
       |  WHERE rk <= 100000),
       |rm AS (SELECT DISTINCT b.vec_id AS kb
       |       FROM pt a JOIN pt b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE list_cosine_similarity(a.v, b.v) > 0.45)
       |SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       |       a.vec_id NOT IN (SELECT kb FROM rm) AS kept
       |FROM asg a ORDER BY vec_id""".stripMargin
  }

  val dd10_semantic_dedup = QueryDef.sqlChecked("dd10_semantic_dedup", Dd10Sql) { (s, d) =>
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // data-derived plant offset (the dd5c collision rule) — a bounded
    // scalar collect, not a crossJoin: the 1-row broadcast stitch
    // planned a BroadcastNestedLoopJoin that dd10's pair-work gate
    // rightly forbids
    val plantOff =
      emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) + 1L
    val aug = emb.unionByName(emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + lit(plantOff)).as("vec_id"), col("embedding")))
    graft.operators.IvfSearch.semanticDedup(aug).orderBy("vec_id")
  }

  // ------------------------------------------------------ text analysis
  private val StopList = "['the','a','of','and','in','to','is']"

  val txt_quality = QueryDef.sqlChecked(
    "txt_quality",
    s"""WITH wl AS (SELECT doc_id, n_chars,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents)
       |SELECT doc_id, n_chars,
       | CAST(len(ws) AS INTEGER) AS n_words,
       | round(CAST(n_chars AS DOUBLE)/len(ws), 4) AS chars_per_word,
       | round(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)/len(ws), 4) AS avg_word_len,
       | CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS INTEGER) AS n_stop,
       | round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)/len(ws), 4) AS stop_ratio,
       | round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)/len(ws)*0.5
       |   + least(len(ws), 100)/100.0*0.5, 4) AS quality_score
       |FROM wl ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.quality(Tables.documents(s, d)).orderBy("doc_id")
  }

  val txt_tokens = QueryDef.sqlChecked(
    "txt_tokens",
    """SELECT doc_id,
      | CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS INTEGER) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens,
      | round(CAST(n_chars AS DOUBLE)/len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')), 4) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id")
  }

  val txt_fingerprint = QueryDef.sqlChecked(
    "txt_fingerprint",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents)
      |SELECT doc_id,
      | CAST(list_reduce(
      |   list_concat([CAST(0 AS BIGINT)],
      |     list_transform(ws, w -> CAST(length(w)*31 + ascii(w) AS BIGINT))),
      |   (a, b) -> (a*131 + b) % 1000000007) AS BIGINT) AS fp
      |FROM wl ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Oracle generated from the same [[TextAnalysis.LangProfiles]] table
    * the operator uses, so profile edits can never drift the two apart.
    */
  private val LangIdSql: String = {
    val scores = TextAnalysis.LangProfiles.map { case (l, st) =>
      val lst = st.map(w => s"'$w'").mkString("[", ",", "]")
      s"""CASE WHEN len(ws)=0 THEN 0.0
         | ELSE round(len(list_filter(ws, w -> list_contains($lst, w)))*1.0/len(ws), 4)
         | END AS score_$l""".stripMargin
    }.mkString(",\n ")
    val names = TextAnalysis.LangProfiles.map { case (l, _) => s"score_$l" }
    val pred = TextAnalysis.LangProfiles
      .map { case (l, _) => s"WHEN score_$l = best THEN '$l'" }.mkString(" ")
    s"""WITH wl AS (SELECT doc_id, lang, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |s AS (SELECT doc_id, lang AS labeled_lang,
       | ${scores}
       | FROM wl),
       |m AS (SELECT *, greatest(${names.mkString(", ")}) AS best FROM s)
       |SELECT doc_id, labeled_lang,
       | CASE WHEN best <= 0 THEN 'und' $pred END AS predicted_lang,
       | ${names.mkString(", ")}
       |FROM m ORDER BY doc_id""".stripMargin
  }

  val txt_langid = QueryDef.sqlChecked("txt_langid", LangIdSql) { (s, d) =>
    TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id")
  }

  val txt_tfidf = QueryDef.sqlChecked(
    "txt_tfidf",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wl),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
      |SELECT doc_id, term, tf, df, round(tf * ln(n / df), 4) AS tfidf
      |FROM tf JOIN df USING (term), n
      |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
    TextAnalysis.tfIdf(Tables.documents(s, d)).orderBy("doc_id", "term")
  }

  /** ir1: Okapi BM25 top-k retrieval ([[TextAnalysis.bm25TopK]]) — the
    * lexical-search baseline. Query fixture = df-ranked vocabulary
    * terms at ranks 12-27 in 4 groups of 4 (replayed by the mirror's
    * row_number window; the engine derives it with a TakeOrdered +
    * bounded driver collect, never a global rank window). Per-(term,
    * doc) partial scores round to integer micro-credits BEFORE the
    * per-document sum so the total is addition-order-free — the exact
    * reason a plain double Σ can't be hash-compared across engines.
    */
  val ir1_bm25_topk = QueryDef.sqlChecked(
    "ir1_bm25_topk",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wl),
      |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |df AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |                 (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
      |ranked AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rk FROM df),
      |qterms AS (SELECT CAST((rk - 12) // 4 AS BIGINT) AS qid, term, df
      |  FROM ranked WHERE rk >= 12 AND rk < 28),
      |hits AS (SELECT q.qid, t.doc_id,
      |    CAST(round(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
      |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
      |      * 1000000) AS BIGINT) AS s_micro
      |  FROM qterms q JOIN tf t USING (term) JOIN dl d ON d.doc_id = t.doc_id, stats s),
      |scores AS (SELECT qid, doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
      |  FROM hits GROUP BY 1, 2),
      |topk AS (SELECT qid, doc_id, bm25_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, doc_id) AS rnk
      |  FROM scores)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, bm25_micro
      |FROM topk WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    TextAnalysis.bm25TopK(Tables.documents(s, d)).orderSmall("qid", "rnk")
  }

  /** ir2: rank-cutoff reciprocal-rank fusion
    * ([[TextAnalysis.rrfFusionTopK]]) — the hybrid-retrieval consensus
    * of the BM25 ranking and a tf-idf-cosine ranking over the same
    * query fixture, each list BOUNDED to its per-query top 100 before
    * fusing (the production RRF shape; the engine folds both lists in
    * one qid-keyed dual partial-top-k aggregate, no rank window). A
    * doc outside a list's cutoff draws no credit from it and reports
    * rank 0; `rrf_micro = Σ_present 1e6 div (60+r)` is pure integer.
    * The cosine's dot sums integer quarti-credits; the norm sums
    * squared quarti-credits into decimal(38,0) ↔ HUGEINT (Σm² outgrows
    * a BIGINT on long documents — the gr3 wide-integer parity rule).
    * The mirror realizes the same cutoff with rank windows + `r <= 100`
    * filters and a FULL OUTER join of the two bounded lists.
    */
  val ir2_rrf_fusion = QueryDef.sqlChecked(
    "ir2_rrf_fusion",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wl),
      |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |df AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |                 (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
      |ranked AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rk FROM df),
      |qterms AS (SELECT CAST((rk - 12) // 4 AS BIGINT) AS qid, term, df
      |  FROM ranked WHERE rk >= 12 AND rk < 28),
      |hits AS (SELECT q.qid, t.doc_id,
      |    CAST(round(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
      |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
      |      * 1000000) AS BIGINT) AS s_micro,
      |    CAST(round(t.tf * ln(s.n / q.df) * 10000) AS BIGINT) AS m_q4
      |  FROM qterms q JOIN tf t USING (term) JOIN dl d ON d.doc_id = t.doc_id, stats s),
      |norms AS MATERIALIZED (SELECT t.doc_id, sum(
      |    CAST(round(t.tf * ln(s.n / d.df) * 10000) AS BIGINT)
      |    * CAST(round(t.tf * ln(s.n / d.df) * 10000) AS BIGINT)) AS n2
      |  FROM tf t JOIN df d USING (term), stats s GROUP BY 1),
      |scores AS (SELECT qid, doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro,
      |    CAST(sum(m_q4) AS BIGINT) AS dot_q4
      |  FROM hits GROUP BY 1, 2),
      |cs AS MATERIALIZED (SELECT s.qid, s.doc_id, s.bm25_micro,
      |    CAST(round(CAST(s.dot_q4 AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS cos_micro
      |  FROM scores s JOIN norms n USING (doc_id)),
      |l1 AS (SELECT qid, doc_id, r1 FROM (
      |    SELECT qid, doc_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, doc_id) AS r1
      |    FROM cs) WHERE r1 <= 100),
      |l2 AS (SELECT qid, doc_id, r2 FROM (
      |    SELECT qid, doc_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos_micro DESC, doc_id) AS r2
      |    FROM cs) WHERE r2 <= 100),
      |fused AS (SELECT qid, doc_id,
      |    CAST(COALESCE(r1, 0) AS INT) AS bm25_rnk,
      |    CAST(COALESCE(r2, 0) AS INT) AS cos_rnk,
      |    CAST(COALESCE(1000000 // (60 + r1), 0)
      |       + COALESCE(1000000 // (60 + r2), 0) AS BIGINT) AS rrf_micro
      |  FROM l1 FULL OUTER JOIN l2 USING (qid, doc_id)),
      |topk AS (SELECT qid, doc_id, rrf_micro, bm25_rnk, cos_rnk,
      |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, doc_id) AS rnk
      |  FROM fused)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, rrf_micro, bm25_rnk, cos_rnk
      |FROM topk WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    TextAnalysis.rrfFusionTopK(Tables.documents(s, d)).orderSmall("qid", "rnk")
  }

  /** ir3: incremental BM25 probe ([[TextAnalysis.bm25Postings]] +
    * [[TextAnalysis.probeBm25]]) — the steady-state retrieval path:
    * the corpus's postings freeze at release (the dd15/ann_pq
    * incremental contract, retrieval edition) and NEW queries (df
    * ranks 2-9 in two groups — a fixture derived from the index, the
    * only thing a prober has) probe them through a broadcast term
    * join. Corpus stats come off the index stamp, zero probe-time
    * build jobs. The mirror replays the postings build and the probe.
    */
  val ir3_bm25_incremental = QueryDef.sqlChecked(
    "ir3_bm25_incremental",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wl),
      |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |df AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |                 (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
      |post AS MATERIALIZED (SELECT t.term, t.doc_id, t.tf, d.df, l.dl
      |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)),
      |ranked AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rk FROM df),
      |qterms AS (SELECT CAST((rk - 2) // 4 AS BIGINT) AS qid, term
      |  FROM ranked WHERE rk >= 2 AND rk < 10),
      |hits AS (SELECT q.qid, p.doc_id,
      |    CAST(round(ln((s.n - p.df + 0.5) / (p.df + 0.5) + 1.0)
      |      * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
      |      * 1000000) AS BIGINT) AS s_micro
      |  FROM qterms q JOIN post p USING (term), stats s),
      |scores AS (SELECT qid, doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
      |  FROM hits GROUP BY 1, 2),
      |topk AS (SELECT qid, doc_id, bm25_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, doc_id) AS rnk
      |  FROM scores)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, bm25_micro
      |FROM topk WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    import s.implicits._
    val postings = TextAnalysis.bm25Postings(Tables.documents(s, d))
    // probe fixture from the INDEX itself: df ranks 2..9, 2 queries x 4
    val ranked = postings.select("term", "df").distinct()
      .orderBy(col("df").desc, col("term")).limit(9).collect()
    require(ranked.length == 9, s"vocabulary too small: ${ranked.length}")
    val queries = ranked.iterator.zipWithIndex.drop(1)
      .map { case (r, i) => ((i - 1).toLong / 4, r.getAs[String]("term")) }
      .toSeq.toDF("qid", "term")
    TextAnalysis.probeBm25(postings, queries).orderSmall("qid", "rnk")
  }

  /** ir4: Dirichlet query-likelihood retrieval
    * ([[TextAnalysis.qlTopK]]) — the language-model ranking next to
    * BM25 (ir1) and RRF (ir2), same df-ranked fixture. The decomposed
    * form scores only matched-term candidates:
    * `Σ ln(1 + tf·|C|/(μ·cf)) + |q|·ln(μ/(dl+μ))` with μ = 2000.
    * Both engines floor each matched-term contribution to micro-nats
    * BEFORE the per-document sum, and floor(x+0.5) — NOT round() —
    * on the negative per-doc smoothing term (half-up vs DuckDB's
    * half-away-from-zero would diverge below zero).
    */
  val ir4_query_likelihood = QueryDef.sqlChecked(
    "ir4_query_likelihood",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM wl),
      |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2),
      |df AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |ranked AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rk FROM df),
      |qterms AS (SELECT CAST((rk - 12) // 4 AS BIGINT) AS qid, term
      |  FROM ranked WHERE rk >= 12 AND rk < 28),
      |ctot AS (SELECT CAST(sum(tf) AS BIGINT) AS ctot FROM tf),
      |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf
      |  WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
      |hits AS (SELECT q.qid, t.doc_id,
      |    CAST(floor(ln(1.0 + (t.tf * s.ctot) / (2000.0 * c.cf))
      |      * 1000000.0 + 0.5) AS BIGINT) AS m_micro
      |  FROM qterms q JOIN tf t USING (term) JOIN cf c ON c.term = q.term, ctot s),
      |scores AS (SELECT h.qid, h.doc_id,
      |    CAST(CAST(sum(h.m_micro) AS BIGINT)
      |      + CAST(floor(ln(2000.0 / (d.dl + 2000.0)) * 4.0 * 1000000.0 + 0.5)
      |             AS BIGINT) AS BIGINT) AS ql_micro
      |  FROM hits h JOIN dl d ON d.doc_id = h.doc_id GROUP BY h.qid, h.doc_id, d.dl),
      |topk AS (SELECT qid, doc_id, ql_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY ql_micro DESC, doc_id) AS rnk
      |  FROM scores)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, ql_micro
      |FROM topk WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    TextAnalysis.qlTopK(Tables.documents(s, d)).orderSmall("qid", "rnk")
  }

  val txt_vocab = QueryDef.sqlChecked(
    "txt_vocab",
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split(text,' '), x -> x <> '')) AS term
      |  FROM documents)
      |SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences,
      | CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM tok GROUP BY term
      |ORDER BY df DESC, term LIMIT 1000""".stripMargin) { (s, d) =>
    TextAnalysis.vocabulary(Tables.documents(s, d))
  }

  /** Top-K bigrams: the LIMIT boundary is deterministic because the
    * ordering (count DESC, bigram) is total — bigram is the group key.
    */
  val txt_bigrams = QueryDef.sqlChecked(
    "txt_bigrams",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
      |bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bigram
      |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
      |SELECT bigram, CAST(count(*) AS BIGINT) AS n_occurrences,
      | CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM bg GROUP BY bigram
      |ORDER BY n_occurrences DESC, bigram LIMIT 200""".stripMargin) { (s, d) =>
    TextAnalysis.topBigrams(Tables.documents(s, d))
  }

  val txt_repetition = QueryDef.sqlChecked(
    "txt_repetition",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |g AS (SELECT doc_id,
      |       list_transform(range(greatest(len(ws) - 2, 0)),
      |         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS grams
      |      FROM wl)
      |SELECT doc_id,
      | CAST(len(grams) AS INTEGER) AS n_grams,
      | CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
      | CASE WHEN len(grams) > 0
      |   THEN round(1.0 - len(list_distinct(grams))*1.0/len(grams), 4)
      |   ELSE 0.0 END AS rep_ratio
      |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Decontamination mirror, generated from the engine's constants
    * (evalMod=19, gramSize=4): DuckDB replays the mix32 eval split, the
    * 4-gram shingle sets, the eval-distinct join, and the per-doc
    * counts — the whole hygiene pass, split included.
    */
  private val DecontaminateSql: String = {
    val K = 4; val Mod = 19L
    val joins = (1 until K)
      .map(j => s"JOIN tok t$j ON t$j.doc_id = a.doc_id AND t$j.i = a.i + $j")
      .mkString(" ")
    val gram = "a.w" + (1 until K).map(j => s" || ' ' || t$j.w").mkString
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, $gram AS s FROM tok a $joins),
       |mx AS (SELECT doc_id, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT doc_id, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT doc_id, ((doc_id % 4294967296) + 4294967296) % 4294967296 AS h0 FROM documents))),
       |ev AS (SELECT doc_id FROM mx WHERE hs % $Mod = 0),
       |evs AS (SELECT DISTINCT s FROM sh JOIN ev USING (doc_id)),
       |tr AS (SELECT sh.doc_id, sh.s FROM sh LEFT JOIN ev ON ev.doc_id = sh.doc_id
       |       WHERE ev.doc_id IS NULL),
       |hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM tr t JOIN evs e ON t.s = e.s GROUP BY 1),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM tr GROUP BY 1)
       |SELECT doc_id, n_hits, n_shingles,
       | round(n_hits*1.0/n_shingles, 4) AS overlap_ratio
       |FROM hits JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  val dc1_decontaminate = QueryDef.sqlChecked("dc1_decontaminate", DecontaminateSql) {
    (s, d) => Decontamination.overlap(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Mirror for the DEPLOYMENT decontamination API
    * (Decontamination.overlapWith — explicit eval corpus, not the
    * hash-split demo): eval = the `doc_id % 100 < 3` slice, train = the
    * complement, both derived in-query from `documents` so the whole
    * call replays in DuckDB. Plain `%` mirrors the engine's `pmod`
    * because fixture doc_ids are non-negative (the negative-id parity
    * concern is mix32-specific and spec-covered separately).
    */
  /** The dc2 shingle-overlap CTE chain (train = doc_id%100>=3, eval =
    * <3), ending at hits/sz — shared by dc2 and dc5.
    */
  private val OverlapCtes: String = {
    val K = 4
    val joins = (1 until K)
      .map(j => s"JOIN tok t$j ON t$j.doc_id = a.doc_id AND t$j.i = a.i + $j")
      .mkString(" ")
    val gram = "a.w" + (1 until K).map(j => s" || ' ' || t$j.w").mkString
    s"""wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, $gram AS s FROM tok a $joins),
       |evs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 < 3),
       |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 >= 3),
       |hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM tr t JOIN evs e ON t.s = e.s GROUP BY 1),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM tr GROUP BY 1)""".stripMargin
  }

  private val OverlapWithSql: String = {
    s"""WITH $OverlapCtes
       |SELECT doc_id, n_hits, n_shingles,
       | round(n_hits*1.0/n_shingles, 4) AS overlap_ratio
       |FROM hits JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  val dc2_overlap_with = QueryDef.sqlChecked("dc2_overlap_with", OverlapWithSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    Decontamination.overlapWith(
      train = docs.filter(pmod(col("doc_id"), lit(100)) >= 3),
      evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3))
      .orderBy("doc_id")
  }

  /** The reverse report over the same split: which EVAL docs leaked,
    * into how many train docs, over what fraction of their grams —
    * the benchmark-compromise audit (dc2 names the train docs to drop;
    * dc3 names the eval items whose scores are inflated).
    */
  private val LeakReportSql: String = {
    val K = 4
    val joins = (1 until K)
      .map(j => s"JOIN tok t$j ON t$j.doc_id = a.doc_id AND t$j.i = a.i + $j")
      .mkString(" ")
    val gram = "a.w" + (1 until K).map(j => s" || ' ' || t$j.w").mkString
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, $gram AS s FROM tok a $joins),
       |evs AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 100 < 3),
       |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 >= 3),
       |hit AS (SELECT e.eval_id,
       |         CAST(count(DISTINCT e.s) AS BIGINT) AS n_leaked_grams,
       |         CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs
       |        FROM tr t JOIN evs e ON t.s = e.s GROUP BY 1),
       |sz AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_grams FROM evs GROUP BY 1)
       |SELECT eval_id, n_leaked_grams, n_train_docs, n_grams,
       | round(n_leaked_grams*1.0/n_grams, 4) AS leak_ratio
       |FROM hit JOIN sz USING (eval_id) ORDER BY eval_id""".stripMargin
  }

  // Final sort is the global orderBy: the report is one row per eval
  // doc — eval here is a 3% slice of the corpus, so the output grows
  // with corpus size and must not funnel through a single-task
  // coalesce(1) sort (ADVICE r19; orderSmall is for outputs bounded
  // independent of corpus size only).
  val dc3_eval_leak_report = QueryDef.sqlChecked(
    "dc3_eval_leak_report", LeakReportSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    Decontamination.evalLeakReport(
      train = docs.filter(pmod(col("doc_id"), lit(100)) >= 3),
      evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3))
      .orderBy("eval_id")
  }

  /** PII redaction over documents with deterministic in-query pattern
    * injection (every 7th doc gets a synthetic email + URL appended, in
    * both engines) so the redaction provably ENGAGES — the organic
    * testdata contains no PII, and an all-zero-match entry would prove
    * nothing (the cap-fixture lesson). The md5 of the redacted text
    * makes the oracle compare the full replacement output, not just
    * counts. Patterns come from the engine's own constants
    * (TextAnalysis.EmailPattern/UrlPattern) so SQL and Scala can't
    * drift; DuckDB needs the explicit 'g' flag (its regexp_replace is
    * first-match by default, Spark's is global). As in dc2, plain `%`
    * mirrors the engine's `pmod` because fixture doc_ids are
    * non-negative.
    */
  /** Normalization fixture: every 5th doc is dirtied IN-QUERY (leading
    * space+TAB, uppercased, embedded LF, a trailing CR/TAB/space run)
    * in both engines, so the cleaning pass provably engages on the
    * whitespace classes real corpus text carries — not just literal
    * spaces; the other docs pin the no-op path (changed = false,
    * delta = 0). The mirror's regex is the same explicit `[ \t\r\n]`
    * class the engine uses (chr(9/10/13) literals keep the dirt
    * identical byte-for-byte across engines).
    */
  val txt_normalize = QueryDef.sqlChecked(
    "txt_normalize",
    """WITH aug AS (SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' ' || chr(9) || upper(text) || chr(10) || chr(10) ||
      |            'tail' || chr(13) || chr(9) || '  END '
      |       ELSE text END AS text
      |  FROM documents),
      |c AS (SELECT doc_id, text,
      |       trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')) AS cleaned
      |      FROM aug)
      |SELECT doc_id, md5(cleaned) AS norm_md5, cleaned <> text AS changed,
      | CAST(length(text) - length(cleaned) AS INTEGER) AS delta
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" \t"), upper(col("text")), lit("\n\ntail\r\t  END ")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.normalize(aug).orderBy("doc_id")
  }

  val txt_redact = QueryDef.sqlChecked(
    "txt_redact",
    s"""WITH aug AS (SELECT doc_id,
       |  text || CASE WHEN doc_id % 7 = 0
       |    THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org or ' ||
       |         'https://ex.org/d/' || CAST(doc_id AS VARCHAR) || ' now'
       |    ELSE '' END AS text FROM documents)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INTEGER)
       |   AS n_emails,
       | CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}')) AS INTEGER)
       |   AS n_urls,
       | md5(regexp_replace(
       |   regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
       |   '${TextAnalysis.UrlPattern}', '<URL>', 'g')) AS redacted_md5
       |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val aug = docs.select(
      col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" mail u"), col("doc_id").cast("string"),
            lit("@ex.org or https://ex.org/d/"), col("doc_id").cast("string"),
            lit(" now")))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.redactPii(aug).orderBy("doc_id")
  }

  // ------------------------------------------- sampling/split/packing
  /** Shared DuckDB fragment: the mix32 avalanche over doc_id (the same
    * positive-modulo chain as the dc1/ann_ivf mirrors), carrying
    * `keep` columns through, exposed as `hs`.
    */
  private def mix32Sql(keep: String): String =
    s"""(SELECT $keep, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT $keep, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT $keep, ((doc_id % 4294967296) + 4294967296) % 4294967296 AS h0
       |    FROM documents)))""".stripMargin

  val sp1_hash_split = QueryDef.sqlChecked(
    "sp1_hash_split",
    s"""WITH mx AS ${mix32Sql("doc_id")}
       |SELECT doc_id, hs % 100 AS bucket,
       | CASE WHEN hs % 100 < 90 THEN 'train'
       |      WHEN hs % 100 < 95 THEN 'val' ELSE 'test' END AS split
       |FROM mx ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.hashSplit(Tables.documents(s, d)).orderBy("doc_id")
  }

  val sp2_quota_sample = QueryDef.sqlChecked(
    "sp2_quota_sample",
    s"""WITH mx AS ${mix32Sql("doc_id, lang")},
       |r AS (SELECT doc_id, lang,
       |       CAST(row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id)
       |            AS INTEGER) AS rk
       |      FROM mx)
       |SELECT doc_id, lang, rk FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) {
    (s, d) => Sampling.quotaPerKey(Tables.documents(s, d)).orderSmall("lang", "rk")
  }

  /** sp10: epoch-weighted mixture materialization — src0 at 2.3
    * epochs (2 full copies + hash-chosen 30% third), src1 at 0.5
    * (hash-chosen half), src2 dropped, everything else passing through
    * at the 1.0 default: every branch of the repeat-factor arithmetic
    * is live at gate SF. Integer milli-epoch weights keep the copy
    * count exact in both engines.
    */
  val sp10_epoch_upsample = QueryDef.sqlChecked(
    "sp10_epoch_upsample",
    s"""WITH mx AS ${mix32Sql("doc_id, source")},
       |n AS (SELECT doc_id, source,
       |  CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0
       |       ELSE 1 END
       |  + CASE WHEN hs % 1000000 <
       |      CASE source WHEN 'src0' THEN 300000 WHEN 'src1' THEN 500000
       |           WHEN 'src2' THEN 0 ELSE 0 END
       |     THEN 1 ELSE 0 END AS nc
       | FROM mx)
       |SELECT doc_id, source, CAST(unnest(range(nc)) AS INTEGER) AS copy
       |FROM n WHERE nc > 0 ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
    Sampling.epochUpsample(Tables.documents(s, d),
        milliEpochs = Seq("src0" -> 2300L, "src1" -> 500L, "src2" -> 0L))
      .orderBy("doc_id", "copy")
  }

  /** sp11: mixture audit card over the sp10 recipe — per-source target
    * vs achieved share of the materialized mix, deviation = the
    * fractional-copy hash remainder. The copy count is recomputed
    * arithmetically (no copy materialization) in BOTH engines.
    */
  val sp11_mixture_audit = QueryDef.sqlChecked(
    "sp11_mixture_audit",
    s"""WITH mx AS ${mix32Sql("doc_id, source")},
       |n AS (SELECT doc_id, source,
       |  CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0
       |       ELSE 1 END
       |  + CASE WHEN hs % 1000000 <
       |      CASE source WHEN 'src0' THEN 300000 WHEN 'src1' THEN 500000
       |           WHEN 'src2' THEN 0 ELSE 0 END
       |     THEN 1 ELSE 0 END AS nc,
       |  CASE source WHEN 'src0' THEN 2300 WHEN 'src1' THEN 500
       |       WHEN 'src2' THEN 0 ELSE 1000 END AS me
       | FROM mx),
       |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nc) AS BIGINT) AS n_copies,
       |         CAST(sum(me) AS BIGINT) AS tw
       |        FROM n GROUP BY source),
       |tot AS (SELECT CAST(sum(n_copies) AS BIGINT) AS tc,
       |         CAST(sum(tw) AS BIGINT) AS tt FROM per)
       |SELECT source, n_docs, n_copies,
       | round(CAST(tw AS DOUBLE)/tt, 6) AS target_share,
       | round(CAST(n_copies AS DOUBLE)/tc, 6) AS achieved_share,
       | round(round(CAST(n_copies AS DOUBLE)/tc, 6)
       |     - round(CAST(tw AS DOUBLE)/tt, 6), 6) AS dev
       |FROM per, tot ORDER BY source""".stripMargin) { (s, d) =>
    Sampling.mixtureAudit(Tables.documents(s, d),
        milliEpochs = Seq("src0" -> 2300L, "src1" -> 500L, "src2" -> 0L))
      .orderSmall("source")
  }

  val pk1_pack_sequences = QueryDef.sqlChecked(
    "pk1_pack_sequences",
    s"""WITH mx AS ${mix32Sql("doc_id, text")},
       |t AS (SELECT doc_id, hs % 32 AS shard,
       |       CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)
       |         AS n_tokens
       |      FROM mx),
       |c AS (SELECT doc_id, shard, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |            AS BIGINT) AS off
       |      FROM t)
       |SELECT doc_id, shard, CAST(off // 2048 AS BIGINT) AS bin, off, n_tokens
       |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.packSequences(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Temperature sampling mirror at the oracle-safe alpha = 1/2: both
    * engines compute thr = floor(sqrt(nmin/n) * 1e6) — sqrt is IEEE
    * correctly-rounded on both sides, and the closed form has no
    * cross-domain float sum whose association order could differ.
    */
  val sp6_temperature_sample = QueryDef.sqlChecked(
    "sp6_temperature_sample",
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
       |m AS (SELECT min(n) AS nmin FROM c),
       |t AS (SELECT lang, CAST(floor(sqrt(CAST(nmin AS DOUBLE)/n) * 1000000) AS BIGINT) AS thr
       |      FROM c, m),
       |mx AS ${mix32Sql("doc_id, lang")}
       |SELECT doc_id, lang, thr
       |FROM mx JOIN t USING (lang)
       |WHERE hs % 1000000 < thr
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.temperatureSample(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Fixed-size deterministic sample: 137 docs in mix32-hash order.
    * TakeOrdered semantics (bounded heap, no full sort) are the engine
    * side; the mirror is the literal ORDER BY + LIMIT. The odd size
    * avoids accidentally matching any round fixture constant.
    */
  val sp7_sample_n = QueryDef.sqlChecked(
    "sp7_sample_n",
    s"""WITH mx AS ${mix32Sql("doc_id")}
       |SELECT doc_id, hs % 1000000 AS rk
       |FROM mx ORDER BY rk, doc_id LIMIT 137""".stripMargin) { (s, d) =>
    Sampling.sampleN(Tables.documents(s, d), 137)
    // already deterministically ordered by construction (rk, id)
  }

  /** Release-diff fixture: two releases derived in-query from the one
    * documents table — the old release drops every 7th doc, the new
    * release drops every 5th and rewrites every 11th — so all three
    * statuses appear, interleaved, with exact md5 evidence. Both
    * engines build the identical pair of frames.
    */
  val rl1_release_diff = QueryDef.sqlChecked(
    "rl1_release_diff",
    """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
      |new AS (SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 0 THEN text || ' amended' ELSE text END AS text
      |        FROM documents WHERE doc_id % 5 <> 0),
      |j AS (SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
      |        md5(old.text) AS old_md5, md5(new.text) AS new_md5
      |      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
      |SELECT doc_id,
      | CASE WHEN old_md5 IS NULL THEN 'added'
      |      WHEN new_md5 IS NULL THEN 'removed'
      |      WHEN old_md5 <> new_md5 THEN 'changed' END AS status,
      | old_md5, new_md5
      |FROM j
      |WHERE old_md5 IS NULL OR new_md5 IS NULL OR old_md5 <> new_md5
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val oldR = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val newR = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0, concat(col("text"), lit(" amended")))
          .otherwise(col("text")).as("text"))
    graft.operators.TrainingPipeline.releaseDiff(oldR, newR)
      .orderBy("doc_id")
  }

  /** Incremental corpus-refresh fixture, all three frames derived
    * in-query from the one documents table: released drops every 5th
    * doc, the new batch is every 3rd doc PLUS planted exact clones
    * (doc_id + 2000000) of every 30th doc — ids that are NOT in
    * released (divisible by 5), so the clones survive the corpus-dup
    * drop and the within-batch min-id dedup must eliminate them — and
    * eval is the `% 100 < 3` slice. The mirror replays the corpus
    * text drop (NOT EXISTS on text), the digest-keyed min-id winners,
    * the 4-gram decontamination and the in-place mix32 split + shard
    * placement. Exercises every refresh stage with real drops at each.
    */
  private val RefreshSql: String = {
    val K = 4
    val joins = (1 until K)
      .map(j => s"JOIN tok t$j ON t$j.doc_id = a.doc_id AND t$j.i = a.i + $j")
      .mkString(" ")
    val gram = "a.w" + (1 until K).map(j => s" || ' ' || t$j.w").mkString
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM wl),
       |sh AS (SELECT DISTINCT a.doc_id, $gram AS s FROM tok a $joins),
       |evs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 < 3),
       |rel AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
       |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |        UNION ALL
       |        SELECT doc_id + 2000000 AS doc_id, text FROM documents
       |        WHERE doc_id % 30 = 0),
       |s0 AS (SELECT b.doc_id, b.text FROM bat b
       |       WHERE NOT EXISTS (SELECT 1 FROM rel r WHERE r.text = b.text)),
       |w AS (SELECT min(doc_id) AS doc_id FROM s0 GROUP BY md5(text)),
       |s1 AS (SELECT s0.doc_id, s0.text FROM s0 JOIN w USING (doc_id)),
       |s2 AS (SELECT s1.doc_id, s1.text FROM s1
       |       WHERE NOT EXISTS (SELECT 1 FROM sh JOIN evs USING (s)
       |                         WHERE sh.doc_id = s1.doc_id)),
       |mx AS (SELECT doc_id, text, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT doc_id, text, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT doc_id, text, ((doc_id % 4294967296) + 4294967296) % 4294967296 AS h0
       |    FROM s2)))
       |SELECT doc_id, md5(text) AS h,
       | CASE WHEN hs % 100 < 90 THEN 'train'
       |      WHEN hs % 100 < 95 THEN 'val' ELSE 'test' END AS split,
       | hs % 32 AS shard
       |FROM mx ORDER BY doc_id""".stripMargin
  }

  val rf1_corpus_refresh = QueryDef.sqlChecked(
    "rf1_corpus_refresh", RefreshSql) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val released = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val clones = docs.filter(pmod(col("doc_id"), lit(30)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(clones)
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3)
    graft.operators.TrainingPipeline.refresh(released, batch, evalDocs)
      .orderBy("doc_id")
  }

  /** rf1's STEADY-STATE prep, built once per (session-dir) and reused
    * by every subsequent call: the released-corpus Bloom sketch and the
    * prepared eval side are exactly what [[graft.streaming
    * .StreamingRefresh]] builds once and amortizes across micro-batches.
    * rf1 prices the COLD first batch (sketch + eval build inside the
    * timed call); rf1b prices every batch after it — the number a
    * steady-state ingest pipeline actually pays. Prep changes cost,
    * never results, so the oracle is rf1's verbatim.
    */
  private object Rf1bPrep {
    private var cache: Option[(String, Array[Byte],
      graft.operators.Decontamination.PreparedEval)] = None
    def get(s: org.apache.spark.sql.SparkSession, d: String):
        (Array[Byte], graft.operators.Decontamination.PreparedEval) =
      synchronized {
        cache match {
          case Some((dir, sk, pe)) if dir == d => (sk, pe)
          case _ =>
            val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
            val released = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
            val evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3)
            val sk = Dedup.contentSketch(released, "text")
            val pe = graft.operators.Decontamination.prepareEval(evalDocs)
            cache = Some((d, sk, pe))
            (sk, pe)
        }
      }
  }

  val rf1b_refresh_prepared = QueryDef.sqlChecked(
    "rf1b_refresh_prepared", RefreshSql) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val released = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val clones = docs.filter(pmod(col("doc_id"), lit(30)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0).unionByName(clones)
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3)
    val (sk, pe) = Rf1bPrep.get(s, d)
    graft.operators.TrainingPipeline.refresh(released, batch, evalDocs,
        corpusSketch = Some(sk), preparedEval = Some(pe))
      .orderBy("doc_id")
  }

  /** Whole-doc bin-packing fixture: budget 256 so the ~16-doc shards
    * (10-99 tokens each) genuinely open 3-5 bins — the operator's 2048
    * default would leave every shard single-bin, proving nothing. The
    * mirror replays the greedy next-fit placement with a per-shard
    * WITH RECURSIVE walk over the id-ordered docs — bin packing is
    * inherently sequential, which is exactly why the engine shards it;
    * the recursion depth is the max shard size.
    */
  val pk3_pack_whole_docs = QueryDef.sqlChecked(
    "pk3_pack_whole_docs",
    s"""WITH RECURSIVE mx AS ${mix32Sql("doc_id, text")},
       |t AS (SELECT doc_id, hs % 32 AS shard,
       |       CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)
       |         AS n_tokens
       |      FROM mx),
       |r AS (SELECT doc_id, shard, n_tokens,
       |       row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |      FROM t),
       |p AS (
       |  SELECT doc_id, shard, n_tokens, rn,
       |         CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.doc_id, r.shard, r.n_tokens, r.rn,
       |    CASE WHEN p.off + p.n_tokens + r.n_tokens <= 256
       |         THEN p.bin ELSE p.bin + 1 END,
       |    CASE WHEN p.off + p.n_tokens + r.n_tokens <= 256
       |         THEN p.off + p.n_tokens ELSE CAST(0 AS BIGINT) END
       |  FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
       |SELECT doc_id, shard, bin, off, n_tokens FROM p
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.packBinsWholeDoc(Tables.documents(s, d), budget = 256)
      .orderBy("doc_id")
  }

  /** Chunking fixture: 32-token windows with 8-token overlap so the
    * ~55-token organic docs split into 2-3 chunks (the 512/64 operator
    * defaults would leave every doc single-chunk — nothing proven).
    * The md5 is over the space-joined chunk tokens, so the mirror
    * checks the chunk CONTENT, not just the arithmetic.
    */
  private val ChunkTok = 32
  private val ChunkOv = 8

  val pk2_chunk_docs = QueryDef.sqlChecked(
    "pk2_chunk_docs", {
      val step = ChunkTok - ChunkOv
      s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
         |            FROM documents),
         |p AS (SELECT doc_id, ws, len(ws) AS n FROM wl WHERE len(ws) > 0),
         |k AS (SELECT doc_id, ws, n,
         |       unnest(range((greatest(n - $ChunkOv, 1) + ${step - 1}) // $step)) AS ci
         |      FROM p)
         |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
         | CAST(ci*$step AS BIGINT) AS start_tok,
         | CAST(least($ChunkTok, n - ci*$step) AS BIGINT) AS n_tok,
         | md5(array_to_string(
         |   list_slice(ws, ci*$step + 1, ci*$step + least($ChunkTok, n - ci*$step)), ' '))
         |   AS chunk_md5
         |FROM k ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, d) =>
    Sampling.chunkDocuments(Tables.documents(s, d), ChunkTok, ChunkOv)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Stratified rate sampling fixture: per-language target rates that
    * provably engage (en halved, zh cut to 10%, de untouched via the
    * default). The decision threshold is integer arithmetic on the
    * same mix32 chain as sp1, so the mirror replays every keep/drop.
    */
  private[graft] val Sp4Rates: Seq[(String, Double)] =
    Seq("en" -> 0.5, "es" -> 0.25, "fr" -> 0.8, "zh" -> 0.1)

  val sp4_stratified_sample = QueryDef.sqlChecked(
    "sp4_stratified_sample",
    s"""WITH mx AS ${mix32Sql("doc_id, lang")},
       |t AS (SELECT doc_id, lang, hs % 10000 AS bucket,
       |       CASE ${Sp4Rates.map { case (k, r) =>
                  s"WHEN lang = '$k' THEN ${math.round(r * 10000)}" }.mkString(" ")}
       |            ELSE 10000 END AS thresh
       |      FROM mx)
       |SELECT doc_id, lang, bucket, CAST(thresh AS BIGINT) AS thresh
       |FROM t WHERE bucket < thresh ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.stratifiedSample(Tables.documents(s, d), Sp4Rates).orderBy("doc_id")
  }

  /** Domain-mixture fixture: sources src0..src4 targeted at weight 3,
    * src5..src9 at weight 1 (a 3:1 web:code-style mix), the other ten
    * sources untargeted (dropped). Every count, the feasible mixture
    * total `smin`, and each per-domain threshold is BIGINT arithmetic
    * replayed by the mirror — uniform 250-per-source data still
    * exercises the math because weight-3 domains keep ~100% and
    * weight-1 domains keep ~33%.
    */
  private[graft] val Sp5Weights: Seq[(String, Long)] =
    (0 until 5).map(i => s"src$i" -> 3L) ++ (5 until 10).map(i => s"src$i" -> 1L)

  val sp5_domain_mixture = QueryDef.sqlChecked(
    "sp5_domain_mixture", {
      val w3 = (0 until 5).map(i => s"'src$i'").mkString(",")
      val w1 = (5 until 10).map(i => s"'src$i'").mkString(",")
      val wSum = Sp5Weights.map(_._2).sum
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |w AS (SELECT source, n, CASE WHEN source IN ($w3) THEN 3
         |                             WHEN source IN ($w1) THEN 1 END AS wt FROM c),
         |s AS (SELECT min(n * $wSum // wt) AS smin FROM w WHERE wt IS NOT NULL),
         |t AS (SELECT source, (wt * (SELECT smin FROM s) * 1000000) // ($wSum * n) AS thr
         |      FROM w WHERE wt IS NOT NULL),
         |mx AS ${mix32Sql("doc_id, source")}
         |SELECT m.doc_id, m.source, t.thr FROM mx m JOIN t ON t.source = m.source
         |WHERE m.hs % 1000000 < t.thr ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    Sampling.domainMixture(Tables.documents(s, d), Sp5Weights).orderBy("doc_id")
  }

  /** C4 line-filter fixture: the organic docs are single-line with no
    * terminal punctuation, so the base line gets '.' appended (keepable)
    * and planted junk lines exercise each rule branch — a javascript
    * phrase line (phrase rule), a punctuation-less nav line, a braced
    * code line, a too-short line, plus one long well-formed keeper.
    * Both engines build the identical augmented text; the md5 pins the
    * rejoined clean text byte-for-byte like dd9.
    */
  private val C4Junk1 = "enable javascript for the full experience here."
  private val C4Junk2 = "home about contact"
  private val C4Junk3 = "function render netdata { return menu }"
  private val C4Keep1 = "this planted sentence is long enough and ends with a period."
  private val C4Junk4 = "ok."

  val txt_c4_filter = QueryDef.sqlChecked(
    "txt_c4_filter",
    s"""WITH aug AS (SELECT doc_id, text || '.'
       |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$C4Junk1' ELSE '' END
       |  || CASE WHEN doc_id % 4 = 1 THEN chr(10) || '$C4Junk2' ELSE '' END
       |  || CASE WHEN doc_id % 5 = 2 THEN chr(10) || '$C4Junk3' ELSE '' END
       |  || CASE WHEN doc_id % 7 = 3 THEN chr(10) || '$C4Keep1' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 4 THEN chr(10) || '$C4Junk4' ELSE '' END
       |  AS text FROM documents),
       |pl AS (SELECT doc_id,
       |        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
       |                    x -> x <> '') AS ls
       |       FROM aug),
       |p AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS i FROM pl),
       |f AS (SELECT doc_id, i, line,
       |       (len(list_filter(string_split(line, ' '), x -> x <> '')) >= 3
       |        AND substr(line, length(line), 1) IN ('.', '!', '?', '"')
       |        AND NOT contains(lower(line), 'lorem ipsum')
       |        AND NOT contains(lower(line), 'javascript')
       |        AND NOT contains(line, '{') AND NOT contains(line, '}')) AS keep
       |      FROM p)
       |SELECT doc_id,
       | md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i), ''))
       |   AS clean_md5,
       | CAST(count(*) AS BIGINT) AS n_lines,
       | CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"), lit("."),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\n" + C4Junk1)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 1, lit("\n" + C4Junk2)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 2, lit("\n" + C4Junk3)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 3, lit("\n" + C4Keep1)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 4, lit("\n" + C4Junk4)).otherwise(lit("")))
        .as("text"))
    TextAnalysis.c4LineFilter(aug)
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        col("n_lines"), col("n_removed"))
      .orderBy("doc_id")
  }

  /** Gopher-rules fixture: the organic docs are single-line, so the
    * line-shape rules (bullets, trailing ellipsis) are planted in-query
    * in both engines over coprime moduli — pass-compatible signal
    * plants (3 bullets of 4 lines; 1 ellipsis of 4) and rule-violating
    * plants (9 filler bullets -> ratio 0.9; 2 of 3 ellipsis lines;
    * a '#' barrage that also drags mean word length under 3). The
    * word-count bound engages organically: the corpus spans 10..99
    * words around the minWords=25 threshold.
    */
  val txt_gopher = QueryDef.sqlChecked(
    "txt_gopher",
    """WITH aug AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 6 = 0 THEN chr(10)||'- bullet one'||chr(10)||'- bullet two'||chr(10)||'- bullet three' ELSE '' END
       |  || CASE WHEN doc_id % 10 = 1 THEN repeat(chr(10)||'- filler bullet line', 9) ELSE '' END
       |  || CASE WHEN doc_id % 7 = 2 THEN chr(10)||'plain line of words here'||chr(10)||'another plain line here'||chr(10)||'and the story goes on...' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 3 THEN chr(10)||'first trailing dots...'||chr(10)||'second trailing dots...' ELSE '' END
       |  || CASE WHEN doc_id % 9 = 4 THEN ' # one # two ...' ELSE '' END
       |  || CASE WHEN doc_id % 17 = 5 THEN ' ' || repeat('# ', 15) || '...' ELSE '' END
       |  AS text FROM documents),
       |sig AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS ws,
       |  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
       |              x -> x <> '') AS ls,
       |  len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS n_sym
       |  FROM aug),
       |m AS (SELECT doc_id, len(ws) AS nw,
       |  CASE WHEN len(ws) > 0
       |       THEN CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)/len(ws)
       |       ELSE 0.0 END AS mwl,
       |  n_sym, len(ls) AS nl,
       |  len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* ')
       |                        OR starts_with(l, '•'))) AS nb,
       |  len(list_filter(ls, l -> ends_with(l, '...'))) AS ne,
       |  CAST(list_contains(ws,'the') AS INT) + CAST(list_contains(ws,'a') AS INT)
       |   + CAST(list_contains(ws,'of') AS INT) + CAST(list_contains(ws,'and') AS INT)
       |   + CAST(list_contains(ws,'in') AS INT) + CAST(list_contains(ws,'to') AS INT)
       |   + CAST(list_contains(ws,'is') AS INT) AS nsk
       | FROM sig)
       |SELECT doc_id,
       | CAST(nw AS INTEGER) AS n_words,
       | round(mwl, 4) AS mean_word_len,
       | round(CASE WHEN nw > 0 THEN CAST(n_sym AS DOUBLE)/nw ELSE 0.0 END, 4) AS symbol_ratio,
       | round(CASE WHEN nl > 0 THEN CAST(nb AS DOUBLE)/nl ELSE 0.0 END, 4) AS bullet_ratio,
       | round(CASE WHEN nl > 0 THEN CAST(ne AS DOUBLE)/nl ELSE 0.0 END, 4) AS ellipsis_ratio,
       | CAST(nsk AS INTEGER) AS n_stop_kinds,
       | (nw >= 25 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
       |  AND CAST(n_sym AS DOUBLE)/nw <= 0.1
       |  AND (nl = 0 OR CAST(nb AS DOUBLE)/nl < 0.9)
       |  AND (nl = 0 OR CAST(ne AS DOUBLE)/nl < 0.3)
       |  AND nsk >= 2) AS pass
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(6)) === 0,
          lit("\n- bullet one\n- bullet two\n- bullet three")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(10)) === 1,
          repeat(lit("\n- filler bullet line"), 9)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 2,
          lit("\nplain line of words here\nanother plain line here\nand the story goes on..."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 3,
          lit("\nfirst trailing dots...\nsecond trailing dots...")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(9)) === 4, lit(" # one # two ...")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 5,
          concat(lit(" "), repeat(lit("# "), 15), lit("..."))).otherwise(lit("")))
        .as("text"))
    TextAnalysis.gopherRules(aug).orderBy("doc_id")
  }

  /** Domain-statistics fixture: the organic corpus has no URLs, so
    * every 4th doc gets TWO planted URLs over a 15-domain grid
    * (d{0..4}.ex{0..2}.org) in both engines — multi-URL docs pin
    * n_urls vs n_docs apart, and the grid makes the aggregation
    * non-trivial.
    */
  val txt_domains = QueryDef.sqlChecked(
    "txt_domains",
    s"""WITH aug AS (SELECT doc_id,
       |  text || CASE WHEN doc_id % 4 = 0
       |    THEN ' see https://d' || CAST(doc_id % 5 AS VARCHAR) || '.ex' ||
       |         CAST(doc_id % 3 AS VARCHAR) || '.org/p/' || CAST(doc_id AS VARCHAR) ||
       |         ' and https://d' || CAST(doc_id % 5 AS VARCHAR) || '.ex' ||
       |         CAST(doc_id % 3 AS VARCHAR) || '.org/q/' || CAST(doc_id AS VARCHAR)
       |    ELSE '' END AS text FROM documents),
       |d AS (SELECT doc_id,
       |       unnest(regexp_extract_all(text, '${TextAnalysis.DomainPattern}', 1))
       |         AS domain
       |      FROM aug)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
       | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM d GROUP BY domain ORDER BY domain""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" see https://d"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".ex"), pmod(col("doc_id"), lit(3)).cast("string"),
            lit(".org/p/"), col("doc_id").cast("string"),
            lit(" and https://d"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".ex"), pmod(col("doc_id"), lit(3)).cast("string"),
            lit(".org/q/"), col("doc_id").cast("string")))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.urlDomains(aug).orderBy("domain")
  }

  /** Duplicate-cluster fixture: organic docs 0..99 plus 5 planted
    * SLIDING-WINDOW docs (doc 3000+i = tokens qz{i}..qz{i+7}, unique
    * `qz*` vocabulary so they only pair among themselves). Adjacent
    * docs share 5 of 7 3-gram shingles (J = 5/7) and distance-2 docs
    * exactly 4 of 8 (J = 0.5, on the threshold), while distance >= 3 is
    * below threshold — so the planted component {3000..3004} is a CHAIN
    * with skip edges, NOT a clique: endpoints 3000 and 3004 have no
    * direct pair and collapse into one cluster only through the
    * transitive closure. That makes the oracle check the closure
    * semantics itself, not just pair membership. Edges = the
    * ngramJaccard pair list over the SAME union, replayed by the
    * parameterized dd3 mirror; labels are the recursive min-label
    * closure in BOTH engines (hash-min propagation in Spark, WITH
    * RECURSIVE reachability-min in DuckDB — identical converged
    * semantics: label = min doc id reachable).
    */
  private val Dd8Window = 8

  private val Dd8Rel = {
    val terms = (0 until Dd8Window).map(k => s"'qz' || (t.i + $k)").mkString(", ")
    s"""(SELECT doc_id, text FROM documents WHERE doc_id < 100
       | UNION ALL
       | SELECT 3000 + t.i AS doc_id, concat_ws(' ', $terms) AS text
       | FROM range(5) t(i))""".stripMargin
  }

  val dd8_dup_clusters = QueryDef.sqlChecked(
    "dd8_dup_clusters",
    s"""WITH RECURSIVE pairs AS (${ngramJaccardSqlFor(Dd8Rel, 1000)}),
       |edges AS (SELECT da AS a, db AS b FROM pairs
       |          UNION SELECT db AS a, da AS b FROM pairs),
       |reach AS (
       |  SELECT a AS id, a AS lbl FROM edges
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
       |),
       |cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM cl GROUP BY cluster)
       |SELECT cl.id AS doc_id, cl.cluster, sz.cluster_size
       |FROM cl JOIN sz USING (cluster) ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val planted = s.range(5L)
      .select((col("id") + 3000L).as("doc_id"),
        concat_ws(" ", (0 until Dd8Window).map(k =>
          concat(lit("qz"), col("id") + k)): _*).as("text"))
    // smallGraphMaxEdges = 0: dd8 is the SCALE-path benchmark — it pins
    // the distributed hash-min loop's cost every round. (The default
    // small-graph fast path is exercised, and benched, through pipe1.)
    Dedup.duplicateClusters(Dedup.ngramJaccard(base.unionByName(planted)),
        smallGraphMaxEdges = 0L)
      .orderBy("doc_id")
  }

  /** Paragraph-dedup fixture: the organic docs are single-paragraph, so
    * boilerplate is planted IN-QUERY in both engines — every 3rd doc
    * gets a "subscribe" paragraph (df ~ N/3, always over the cap),
    * every 5th a "copyright" paragraph (df ~ N/5, over the cap), and
    * every doc_id % 100 == 1 a rare repeated paragraph (df = N/100 =
    * 5..50, UNDER the cap of 60 at every SF) — so the oracle pins both
    * the drop and the keep side of the frequency rule, plus the
    * reassembly order (doc 0 loses two paragraphs, md5 checks the
    * rejoined text byte-for-byte).
    */
  private val Dd9Boiler1 = "please subscribe to our newsletter for weekly updates"
  private val Dd9Boiler2 = "copyright twenty twenty six example site all rights reserved"
  private val Dd9Rare = "this rare paragraph repeats in only a few documents"
  private val Dd9Cap = 60

  val dd9_paragraph_dedup = QueryDef.sqlChecked(
    "dd9_paragraph_dedup",
    s"""WITH aug AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || '$Dd9Boiler1' ELSE '' END
       |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || '$Dd9Boiler2' ELSE '' END
       |  || CASE WHEN doc_id % 100 = 1 THEN chr(10) || chr(10) || '$Dd9Rare' ELSE '' END
       |  AS text FROM documents),
       |pl AS (SELECT doc_id,
       |        list_filter(list_transform(string_split_regex(text, '\\n+'),
       |                                   x -> trim(x)), x -> x <> '') AS ps
       |       FROM aug),
       |p AS (SELECT doc_id, unnest(ps) AS para, generate_subscripts(ps,1) AS i FROM pl),
       |hot AS (SELECT md5(para) AS h FROM p
       |        GROUP BY 1 HAVING count(DISTINCT doc_id) > $Dd9Cap),
       |f AS (SELECT doc_id, i, para,
       |       md5(para) IN (SELECT h FROM hot) AS boiler FROM p)
       |SELECT doc_id,
       | md5(coalesce(string_agg(CASE WHEN NOT boiler THEN para END,
       |                         chr(10) || chr(10) ORDER BY i), '')) AS clean_md5,
       | CAST(count(*) AS BIGINT) AS n_paras,
       | CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\n\n" + Dd9Boiler1)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("\n\n" + Dd9Boiler2)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(100)) === 1, lit("\n\n" + Dd9Rare)).otherwise(lit("")))
        .as("text"))
    Dedup.paragraphDedup(aug, maxDocFreq = Dd9Cap)
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        col("n_paras"), col("n_removed"))
      .orderBy("doc_id")
  }

  /** Weighted Bernoulli downsampling — integer hash arithmetic only, so
    * the mirror replays the decision exactly (no float/rand drift).
    */
  val sp3_weighted_downsample = QueryDef.sqlChecked(
    "sp3_weighted_downsample",
    s"""WITH mx AS ${mix32Sql("doc_id, n_chars")}
       |SELECT doc_id, CAST(least(n_chars, 2000) AS BIGINT) AS w,
       |       hs % 2000 AS bucket
       |FROM mx WHERE hs % 2000 < least(n_chars, 2000)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.weightedDownsample(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Incremental dedup of a new batch against an existing corpus: A =
    * docs 0..399, B = docs 400+ UNION 25 planted copies of A texts
    * (re-keyed 2000+), built in-query in BOTH engines. The engine runs
    * the Bloom-prefiltered path (sketch probe -> exact semi-join
    * confirm); the oracle is the exact-semantics EXISTS — equal because
    * the Bloom has no false negatives and the confirm join clears its
    * false positives.
    */
  val dd7_bloom_dedup = QueryDef.sqlChecked(
    "dd7_bloom_dedup",
    """WITH adocs AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      |bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
      |          UNION ALL
      |          SELECT 2000 + doc_id AS doc_id, text FROM documents WHERE doc_id < 25)
      |SELECT b.doc_id, md5(b.text) AS h
      |FROM bdocs b
      |WHERE EXISTS (SELECT 1 FROM adocs a WHERE a.text = b.text)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 400)
    val fresh = docs.filter(col("doc_id") >= 400)
      .unionByName(docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + 2000L).as("doc_id"), col("text")))
    Dedup.bloomPrefilterDedup(corpus, fresh).orderBy("doc_id")
  }

  // --------------------------------------------------------- multimodal
  val mm_features = QueryDef.sqlChecked(
    "mm_features",
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      | CAST((octet_length(encode(text)) + 1023) // 1024 AS INTEGER) AS n_chunks,
      | upper(substr(hex(encode(text)), 1, 16)) AS head_hex
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.extractFeatures(Tables.documents(s, d))
      .toDF()
      .select("doc_id", "n_bytes", "n_chunks", "head_hex")
      .orderBy("doc_id")
  }

  /** REAL codec round-trip, oracle-checked: deterministic PNGs are
    * generated from a pure (doc_id, x, y) pixel formula, ENCODED with
    * ImageIO's PNG writer, then DECODED back through javax.imageio on
    * executors; the emitted stats come off the decoded pixel buffer.
    * DuckDB can't decode PNG — it doesn't need to: PNG is lossless, so
    * the oracle recomputes the same stats directly from the generating
    * formula. Any decoder bug (channel order, stride, color model)
    * breaks the hash.
    */
  val mm_decode = QueryDef.sqlChecked(
    "mm_decode",
    """WITH dims AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(w*h)) AS i FROM dims),
      |v AS (SELECT doc_id, w, h,
      |       (doc_id*31 + (i % w)*7 + (i // w)*13) % 256 AS r,
      |       (doc_id*17 + (i % w)*11 + (i // w)*5) % 256 AS g,
      |       (doc_id*29 + (i % w)*3 + (i // w)*19) % 256 AS b
      |      FROM px)
      |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      | round(sum(r)*1.0/(w*h), 4) AS mean_r,
      | round(sum(g)*1.0/(w*h), 4) AS mean_g,
      | round(sum(b)*1.0/(w*h), 4) AS mean_b
      |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.decodeImages(Multimodal.syntheticImages(Tables.documents(s, d)))
      .toDF().orderBy("doc_id")
  }

  /** REAL codec round-trip for audio, same trick as mm_decode:
    * deterministic 16-bit mono PCM WAVs are generated from a pure
    * integer (doc_id, t) sample formula, written through the JDK's
    * WAVE encoder, then DECODED back through javax.sound.sampled on
    * executors; the emitted stats come off the decoded PCM buffer.
    * WAV PCM is lossless, so the oracle recomputes the same stats
    * directly from the generating formula. Any container/decoder bug
    * (endianness, header offset, sample width) breaks the hash.
    */
  val mm_audio = QueryDef.sqlChecked(
    "mm_audio",
    """WITH par AS (SELECT doc_id, 50 + doc_id % 30 AS n FROM documents),
      |t AS (SELECT doc_id, n, unnest(range(n)) AS t FROM par),
      |s AS (SELECT doc_id, n, (doc_id*131 + t*t*7 + t*13) % 20001 - 10000 AS v FROM t)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_samples,
      | CAST(8000 AS INTEGER) AS sample_rate,
      | round(sum(v)*1.0/n, 4) AS mean_amp,
      | CAST(max(abs(v)) AS INTEGER) AS peak,
      | round(sqrt(sum(v*v)*1.0/n), 4) AS rms
      |FROM s GROUP BY doc_id, n ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.decodeAudio(Multimodal.syntheticAudio(Tables.documents(s, d)))
      .toDF().orderBy("doc_id")
  }

  /** Frame sampling over the byte payload. INVARIANT: the oracle mirrors
    * frames with character-based substr/md5, which equals the engine's
    * byte-based slicing only for ASCII payloads — the testdata documents
    * are ASCII by construction (asserted by spec). Real media is binary,
    * so byte semantics are the correct engine behavior; the char-based
    * mirror is only the ASCII stand-in.
    */
  val mm_frames = QueryDef.sqlChecked(
    "mm_frames",
    """WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |s AS (SELECT doc_id, text, n, greatest(1, (((n + 255) // 256) + 7) // 8) AS stride,
      |        (n + 255) // 256 AS nf FROM m),
      |ex AS (SELECT doc_id, text, n, stride, unnest(range(nf)) AS i FROM s),
      |fr AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
      |        CAST(i * 256 AS INTEGER) AS frame_off,
      |        CAST(least(256, n - i * 256) AS INTEGER) AS frame_len,
      |        md5(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS frame_md5
      |       FROM ex WHERE i % stride = 0)
      |SELECT doc_id, frame_idx, frame_off, frame_len, frame_md5
      |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.frameSample(Tables.documents(s, d)).toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Byte-level thumbnail resize, exploded to scalar cells. Same ASCII
    * invariant as mm_frames: the ascii()/substr mirror matches the
    * engine's byte means only on ASCII payloads (spec-asserted on the
    * testdata).
    */
  val mm_resize = QueryDef.sqlChecked(
    "mm_resize",
    """WITH m AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |seg AS (SELECT doc_id, CAST(t.s AS INTEGER) AS seg,
      |         (t.s * n) // 16 AS lo, ((t.s + 1) * n) // 16 AS hi, text
      |        FROM m, range(16) t(s))
      |SELECT doc_id, seg,
      | CASE WHEN hi > lo THEN
      |   round(list_sum(list_transform(range(lo, hi),
      |     j -> ascii(substr(text, CAST(j + 1 AS INTEGER), 1)))) * 1.0 / (hi - lo), 4)
      | ELSE 0.0 END AS value
      |FROM seg ORDER BY doc_id, seg""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.resizeBytes(Tables.documents(s, d)).toDF()
      .orderBy("doc_id", "seg")
  }

  /** Image perceptual near-dup mirror: DuckDB replays the ENTIRE dHash
    * path off the generating formula — pattern-pool key, pixel
    * channels, grayscale sum, the 9x8 floor-map mean pooling, the
    * cross-multiplied gradient bits, the two 32-bit signature halves,
    * the byte-band bucketing with cap, and the banded Hamming join —
    * while the ENGINE computes the same bits from REAL decoded PNG
    * pixels (ImageIO round-trip). PNG is lossless, so any decoder or
    * pooling bug breaks the hash (the mm_decode trick, extended to the
    * dedup layer).
    */
  /** The dHash derivation CTE chain (pattern images → gray grid →
    * 9×8 pooling → gradient bits → signature halves + band bytes),
    * shared by mm_dhash_pairs and mm_dhash_incremental.
    */
  /** Pattern-pool key → dims → pixels → grayscale: the decode replay
    * shared by BOTH perceptual-hash mirrors (dHash and pHash).
    */
  private val PatternPixelCtes =
    s"""keys AS (SELECT doc_id,
       |  CASE WHEN doc_id % 7 = 0 THEN (doc_id // 7) % 23 ELSE 23 + doc_id END AS k
       |  FROM documents),
       |dims AS (SELECT doc_id, k, 16 + k % 5 AS w, 12 + k % 4 AS h FROM keys),
       |px AS (SELECT doc_id, k, w, h, unnest(range(w*h)) AS p FROM dims),
       |gr AS (SELECT doc_id, w, h, p % w AS x, p // w AS y,
       |        ((k*31 + (p%w)*(p%w)*7 + (p//w)*(p//w)*13 + (p%w)*(p//w)*5) % 256) +
       |        ((k*17 + (p%w)*(p%w)*11 + (p//w)*(p//w)*3 + (p%w)*(p//w)*7) % 256) +
       |        ((k*29 + (p%w)*(p%w)*5 + (p//w)*(p//w)*17 + (p%w)*(p//w)*3) % 256) AS gray
       |       FROM px)""".stripMargin

  private val DhashCtes =
    s"""$PatternPixelCtes,
       |cells AS (SELECT doc_id, (x*9)//w AS cx, (y*8)//h AS cy,
       |           CAST(sum(gray) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |          FROM gr GROUP BY doc_id, (x*9)//w, (y*8)//h),
       |bits AS (SELECT l.doc_id, l.cy*8 + l.cx AS i,
       |          CASE WHEN l.s * r.c > r.s * l.c THEN 1 ELSE 0 END AS bit
       |         FROM cells l JOIN cells r
       |           ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
       |         WHERE l.cx < 8),
       |sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit = 1 AND i < 32
       |                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(sum(CASE WHEN bit = 1 AND i >= 32
       |                  THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS sb
       |   FROM bits GROUP BY doc_id),
       |bytes AS (SELECT doc_id, i // 8 AS band,
       |           CAST(sum(bit << (7 - (i % 8))) AS BIGINT) AS byte_val
       |          FROM bits GROUP BY doc_id, i // 8)""".stripMargin

  private val DhashSql =
    s"""WITH $DhashCtes,
       |keep AS (SELECT band, byte_val FROM bytes GROUP BY band, byte_val
       |         HAVING count(*) <= 1000),
       |bk AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b JOIN keep USING (band, byte_val)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bk a JOIN bk b USING (band, byte_val) WHERE a.doc_id < b.doc_id)
       |SELECT da, db,
       | CAST(bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS INTEGER) AS hamming
       |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
       |WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 7
       |ORDER BY da, db""".stripMargin

  /** mm_dhash_incremental mirror: the candidate stage split — index
    * (< 400) buckets capped over index members at build time, batch
    * (>= 400) bands uncapped; same signature verify. Pattern-pool
    * twins cross the split (k cycles mod 23 over both id ranges).
    */
  private val DhashIncSql =
    s"""WITH $DhashCtes,
       |keep AS (SELECT band, byte_val FROM bytes WHERE doc_id < 400
       |         GROUP BY band, byte_val HAVING count(*) <= 1000),
       |bkc AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b
       |        JOIN keep USING (band, byte_val) WHERE b.doc_id < 400),
       |bkb AS (SELECT doc_id, band, byte_val FROM bytes WHERE doc_id >= 400),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bkc a JOIN bkb b USING (band, byte_val))
       |SELECT da, db,
       | CAST(bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS INTEGER) AS hamming
       |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
       |WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 7
       |ORDER BY da, db""".stripMargin

  val mm_dhash_incremental = QueryDef.sqlChecked(
    "mm_dhash_incremental", DhashIncSql) { (s, d) =>
    implicit val spark = s
    val docs = Tables.documents(s, d)
    val corpus = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") < 400))
    val batch = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") >= 400))
    Multimodal.dhashIncrementalPairs(batch, Multimodal.dhashIndex(corpus))
      .orderBy("da", "db")
  }

  val mm_dhash_pairs = QueryDef.sqlChecked("mm_dhash_pairs", DhashSql) { (s, d) =>
    implicit val spark = s
    Multimodal.dhashPairs(
      Multimodal.syntheticPatternImages(Tables.documents(s, d)))
      .orderBy("da", "db")
  }

  /** The frozen integer DCT basis as a literal VALUES table —
    * interpolated from [[Multimodal.PhashBasisMicro]] itself so the
    * two engines share ONE source of truth for the transform.
    */
  private val PhashBasisValues: String =
    (for { u <- 0 until 8; x <- 0 until 8 }
      yield s"($u,$x,${Multimodal.PhashBasisMicro(u)(x)})").mkString(", ")

  /** pHash derivation CTE chain (pattern images → gray grid → 8×8
    * floor-mean pooling → integer DCT → median threshold → signature
    * halves + band bytes), shared by mm_phash_pairs and
    * mm_phash_incremental. All-integer: the pooled cell is a floor
    * division, the DCT rides the micro-scaled literal basis, and the
    * median of the 63 AC coefficients is the 32nd smallest value (an
    * exact rank, not an interpolated quantile).
    */
  private val PhashCtes =
    s"""$PatternPixelCtes,
       |cells8 AS (SELECT doc_id, (x*8)//w AS cx, (y*8)//h AS cy,
       |            CAST(sum(gray) AS BIGINT) // CAST(count(*) AS BIGINT) AS cell
       |           FROM gr GROUP BY doc_id, (x*8)//w, (y*8)//h),
       |basis AS (SELECT * FROM (VALUES $PhashBasisValues) t(u, x, b)),
       |coefs AS (SELECT c.doc_id, bu.u AS u, bv.u AS v,
       |           CAST(sum(c.cell * CAST(bu.b AS BIGINT) * CAST(bv.b AS BIGINT))
       |                AS BIGINT) AS coef
       |          FROM cells8 c
       |          JOIN basis bu ON bu.x = c.cx
       |          JOIN basis bv ON bv.x = c.cy
       |          GROUP BY c.doc_id, bu.u, bv.u),
       |med AS (SELECT doc_id, coef AS med FROM (
       |         SELECT doc_id, coef,
       |          row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
       |         FROM coefs WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
       |bits AS (SELECT c.doc_id, c.v*8 + c.u AS i,
       |          CASE WHEN NOT (c.u = 0 AND c.v = 0) AND c.coef > m.med
       |               THEN 1 ELSE 0 END AS bit
       |         FROM coefs c JOIN med m ON m.doc_id = c.doc_id),
       |sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit = 1 AND i < 32
       |                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(sum(CASE WHEN bit = 1 AND i >= 32
       |                  THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS sb
       |   FROM bits GROUP BY doc_id),
       |bytes AS (SELECT doc_id, i // 8 AS band,
       |           CAST(sum(bit << (7 - (i % 8))) AS BIGINT) AS byte_val
       |          FROM bits GROUP BY doc_id, i // 8)""".stripMargin

  private val PhashSql =
    s"""WITH $PhashCtes,
       |keep AS (SELECT band, byte_val FROM bytes GROUP BY band, byte_val
       |         HAVING count(*) <= 1000),
       |bk AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b JOIN keep USING (band, byte_val)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bk a JOIN bk b USING (band, byte_val) WHERE a.doc_id < b.doc_id)
       |SELECT da, db,
       | CAST(bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS INTEGER) AS hamming
       |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
       |WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 7
       |ORDER BY da, db""".stripMargin

  private val PhashIncSql =
    s"""WITH $PhashCtes,
       |keep AS (SELECT band, byte_val FROM bytes WHERE doc_id < 400
       |         GROUP BY band, byte_val HAVING count(*) <= 1000),
       |bkc AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b
       |        JOIN keep USING (band, byte_val) WHERE b.doc_id < 400),
       |bkb AS (SELECT doc_id, band, byte_val FROM bytes WHERE doc_id >= 400),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bkc a JOIN bkb b USING (band, byte_val))
       |SELECT da, db,
       | CAST(bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS INTEGER) AS hamming
       |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
       |WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 7
       |ORDER BY da, db""".stripMargin

  /** DCT perceptual-hash near-dup pairs: the engine decodes REAL PNGs
    * and computes the all-integer pHash ([[Multimodal.phash]]); the
    * oracle replays decode, pooling, the frozen-basis DCT, the median
    * threshold and the banded Hamming join off the generating formula.
    * Any decoder, pooling, transform or banding bug breaks the hash.
    */
  val mm_phash_pairs = QueryDef.sqlChecked("mm_phash_pairs", PhashSql) { (s, d) =>
    implicit val spark = s
    Multimodal.phashPairs(
      Multimodal.syntheticPatternImages(Tables.documents(s, d)))
      .orderBy("da", "db")
  }

  /** Incremental pHash probe over a released 0..399 index, batch
    * >= 400 — the dhash incremental split in the DCT domain.
    */
  val mm_phash_incremental = QueryDef.sqlChecked(
    "mm_phash_incremental", PhashIncSql) { (s, d) =>
    implicit val spark = s
    val docs = Tables.documents(s, d)
    val corpus = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") < 400))
    val batch = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") >= 400))
    Multimodal.phashIncrementalPairs(batch, Multimodal.phashIndex(corpus))
      .orderBy("da", "db")
  }

  /** Audio near-dup mirror: the pool-keyed synthetic WAVs are a pure
    * integer sample formula times a per-doc amplitude scale, so the
    * oracle replays the decoded PCM, the 65 windowed integer energies,
    * the 64 gradient bits, the byte bands and the capped pigeonhole
    * join — the full engine pipeline in SQL (the dhash mirror's shape,
    * one dimension down). Pool members share the formula but differ in
    * scale: every sample byte differs, yet all 64 energy-gradient
    * signs survive — the pairs the mirror must find at Hamming 0.
    */
  private val AudioPairsSql =
    """WITH keys AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN (doc_id // 7) % 23 ELSE 23 + doc_id END AS k,
      |    1 + doc_id % 3 AS sc
      |  FROM documents),
      |dims AS (SELECT doc_id, k, sc, 80 + k % 40 AS n FROM keys),
      |samp AS (SELECT doc_id, n, ti.tt AS t,
      |          ((k*131 + ti.tt*ti.tt*7 + ti.tt*13) % 20001 - 10000) * sc AS v
      |         FROM dims, range(120) ti(tt) WHERE ti.tt < n),
      |win AS (SELECT doc_id, (t * 65) // n AS w, sum(v*v) AS e FROM samp GROUP BY 1, 2),
      |bits AS (SELECT a.doc_id, a.w AS i, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      |         FROM win a JOIN win b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |         WHERE a.w < 64),
      |sig AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN bit = 1 AND i < 32
      |                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(sum(CASE WHEN bit = 1 AND i >= 32
      |                  THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS sb
      |   FROM bits GROUP BY doc_id),
      |bytes AS (SELECT doc_id, i // 8 AS band,
      |           CAST(sum(bit << (7 - (i % 8))) AS BIGINT) AS byte_val
      |          FROM bits GROUP BY doc_id, i // 8),
      |keep AS (SELECT band, byte_val FROM bytes GROUP BY band, byte_val
      |         HAVING count(*) <= 1000),
      |bk AS (SELECT b.doc_id, b.band, b.byte_val FROM bytes b JOIN keep USING (band, byte_val)),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |         FROM bk a JOIN bk b USING (band, byte_val) WHERE a.doc_id < b.doc_id)
      |SELECT da, db,
      | CAST(bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS INTEGER) AS hamming
      |FROM cand JOIN sig a ON a.doc_id = da JOIN sig b ON b.doc_id = db
      |WHERE bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) <= 7
      |ORDER BY da, db""".stripMargin

  val mm_audio_pairs = QueryDef.sqlChecked("mm_audio_pairs", AudioPairsSql) { (s, d) =>
    implicit val spark = s
    Multimodal.audioEnvelopePairs(
      Multimodal.syntheticPatternAudio(Tables.documents(s, d)))
      .orderBy("da", "db")
  }

  /** Video near-dup mirror: the synthetic videos are fixed-width-frame
    * text payloads whose frame CONTENT is a pure function of a frame id
    * (pool videos = sliding windows over a shared pool, others unique),
    * so the oracle replays frame identity from the formula — equal fid
    * <=> equal 16-byte frame <=> equal frame_md5 — and re-derives the
    * same capped set-Jaccard the engine computes over md5s. Sliding
    * windows make the pair set non-trivial: pool neighbors at window
    * distance 1 share 7 of 9 (J=0.778), distance 2 share 6 of 10
    * (J=0.6), distance 3 is 5/11 < 0.5 — below threshold.
    */
  private val VideoSql =
    """WITH b AS (SELECT doc_id,
      |    CASE WHEN doc_id % 50 = 0 THEN (doc_id // 50) % 23
      |         ELSE 1000 + doc_id * 10 END AS base
      |  FROM documents),
      |f AS (SELECT doc_id, base + t.k AS fid FROM b, range(8) t(k)),
      |keep AS (SELECT fid FROM f GROUP BY fid HAVING count(*) <= 1000),
      |fk AS (SELECT f.doc_id, f.fid FROM f JOIN keep USING (fid)),
      |sz AS (SELECT doc_id, count(*) AS n FROM fk GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b2.doc_id AS db, count(*) AS i
      |          FROM fk a JOIN fk b2 ON a.fid = b2.fid AND a.doc_id < b2.doc_id
      |          GROUP BY 1, 2)
      |SELECT da, db, round(i*1.0/(sa.n + sb.n - i), 4) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE 2*i >= (sa.n + sb.n - i)
      |ORDER BY da, db""".stripMargin

  val mm_video_pairs = QueryDef.sqlChecked("mm_video_pairs", VideoSql) { (s, d) =>
    implicit val spark = s
    val vids = Multimodal.syntheticVideoDocs(Tables.documents(s, d))
    Multimodal.videoFramePairs(
      Multimodal.frameSample(vids, frameBytes = 16, targetFrames = 64).toDF())
      .orderBy("da", "db")
  }

  // ------------------------------------------- composed pipeline (pipe1)
  /** Planted fixture for the composed pipeline: three docs whose
    * NORMALIZED token stream is identical — one clean, one uppercased,
    * one whitespace-dirty — so the dedup stage provably depends on the
    * normalize stage (un-normalized they share no shingles). Content is
    * stopword-heavy so the quality/langid filter keeps them (score
    * ~0.35, en profile hits), and ids are chosen so none land in the
    * eval slice (1000003..5 % 100 >= 3) and none collide with the
    * every-5th dirt rule (applied to organic docs only, in both
    * engines). Expected: 1000004/1000005 collapse into 1000003's
    * cluster and are dropped; 1000003 survives unless its stop-4-grams
    * organically overlap the eval slice (deterministic either way,
    * spec-pinned at sf0.001).
    */
  private[graft] val PipeBase =
    "the data of a pipeline is to test and the data of a pipeline is to test " +
      "qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8"
  private[graft] val PipeUpper = PipeBase.toUpperCase(java.util.Locale.ROOT)
  private[graft] val PipeDirty =
    "  the data\tof a pipeline is to test and \nthe data of a pipeline is to test " +
      "qq1 qq2 qq3 qq4\t qq5 qq6 qq7 qq8 "

  /** DuckDB string literal for text containing tabs/newlines: control
    * chars go through chr() so the dirt is byte-identical across
    * engines regardless of SQL-literal escape rules.
    */
  private def sqlStr(s: String): String =
    "('" + s.replace("'", "''")
      .replace("\t", "' || chr(9) || '")
      .replace("\r", "' || chr(13) || '")
      .replace("\n", "' || chr(10) || '") + "')"

  private val AllLangWords = TextAnalysis.LangProfiles.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("[", ",", "]")

  /** Full mirror of the composed pipeline: every stage replayed in one
    * WITH RECURSIVE chain — the normalize regex, the fused
    * quality/language filter (identical formulas and rounding), the
    * 3-gram Jaccard pairs with the doc-frequency cap, the recursive
    * min-label closure, the 4-gram eval-overlap drop, the mix32 split
    * and the per-shard packing windows (windowed sum CAST to BIGINT —
    * the pk1 HUGEINT lesson).
    *
    * Multiply-referenced CTEs are marked MATERIALIZED: DuckDB inlines
    * plain CTEs per reference, and this chain stacks many shared
    * stages (dtok alone is referenced four times by g4), so without
    * the hints the normalize/tokenize chain re-evaluates ~15x —
    * measured 47 s -> seconds at the correctness gate SF. Semantics-
    * neutral; the engine side gets the same sharing from persist().
    */
  private val Pipe1Sql: String = {
    val planted =
      s"""SELECT 1000003 AS doc_id, ${sqlStr(PipeBase)} AS text
         |  UNION ALL SELECT 1000004, ${sqlStr(PipeUpper)}
         |  UNION ALL SELECT 1000005, ${sqlStr(PipeDirty)}""".stripMargin
    s"""WITH RECURSIVE aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |         THEN ' ' || chr(9) || upper(text) || chr(10) || chr(10) ||
       |              'tail' || chr(13) || chr(9) || '  END '
       |         ELSE text END AS text
       |  FROM documents
       |  UNION ALL
       |  $planted),
       |norm AS MATERIALIZED (SELECT doc_id,
       |          trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')) AS text
       |         FROM aug),
       |ev AS (SELECT doc_id, text FROM norm WHERE doc_id % 100 < 3),
       |corp AS (SELECT doc_id, text FROM norm WHERE doc_id % 100 >= 3),
       |wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |       FROM corp),
       |filt AS MATERIALIZED (SELECT doc_id, ws FROM (
       |    SELECT doc_id, ws, len(ws) AS n,
       |      len(list_filter(ws, w -> list_contains($StopList, w))) AS stops,
       |      len(list_filter(ws, w -> list_contains($AllLangWords, w))) AS lang_hits
       |    FROM wl)
       |  WHERE n > 0 AND lang_hits > 0
       |    AND round(CAST(stops AS DOUBLE)/n*0.5 + least(n,100)/100.0*0.5, 4) >= 0.2),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM filt),
       |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |keepg AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
       |shk AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN keepg USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |          FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |prs AS MATERIALIZED (SELECT da, db FROM inter
       |        JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |        WHERE 2*i >= (sa.n + sb.n - i)),
       |edges AS (SELECT da AS a, db AS b FROM prs UNION SELECT db AS a, da AS b FROM prs),
       |reach AS (SELECT a AS id, a AS lbl FROM edges
       |          UNION
       |          SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
       |cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
       |dedup AS MATERIALIZED (SELECT doc_id, ws FROM filt
       |          WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> cluster)),
       |dtok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM dedup),
       |g4 AS (SELECT DISTINCT a.doc_id, a.w || ' ' || t1.w || ' ' || t2.w || ' ' || t3.w AS s
       |       FROM dtok a JOIN dtok t1 ON t1.doc_id = a.doc_id AND t1.i = a.i + 1
       |                   JOIN dtok t2 ON t2.doc_id = a.doc_id AND t2.i = a.i + 2
       |                   JOIN dtok t3 ON t3.doc_id = a.doc_id AND t3.i = a.i + 3),
       |evwl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |         FROM ev),
       |etok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM evwl),
       |eg4 AS MATERIALIZED (SELECT DISTINCT a.w || ' ' || t1.w || ' ' || t2.w || ' ' || t3.w AS s
       |        FROM etok a JOIN etok t1 ON t1.doc_id = a.doc_id AND t1.i = a.i + 1
       |                    JOIN etok t2 ON t2.doc_id = a.doc_id AND t2.i = a.i + 2
       |                    JOIN etok t3 ON t3.doc_id = a.doc_id AND t3.i = a.i + 3),
       |contaminated AS (SELECT DISTINCT g.doc_id FROM g4 g JOIN eg4 e ON g.s = e.s),
       |clean AS MATERIALIZED (SELECT doc_id, ws FROM dedup
       |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |mx AS (SELECT doc_id, ws, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT doc_id, ws, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT doc_id, ws, ((doc_id % 4294967296) + 4294967296) % 4294967296 AS h0
       |    FROM clean))),
       |t AS (SELECT doc_id, hs % 100 AS bucket, hs % 32 AS shard,
       |       CAST(len(ws) AS BIGINT) AS n_tokens FROM mx),
       |c AS (SELECT doc_id, bucket, shard, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |            AS BIGINT) AS off
       |      FROM t)
       |SELECT doc_id,
       | CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test'
       | END AS split,
       | shard, CAST(off // 2048 AS BIGINT) AS bin, off, n_tokens
       |FROM c ORDER BY doc_id""".stripMargin
  }

  val pipe1_training_pipeline = QueryDef.sqlChecked(
    "pipe1_training_pipeline", Pipe1Sql) { (s, d) =>
    import s.implicits._
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // dirty every 5th organic doc (same pattern as txt_normalize) so
    // the cleaning stage provably engages inside the composition
    val aug = base.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" \t"), upper(col("text")), lit("\n\ntail\r\t  END ")))
        .otherwise(col("text")).as("text"))
    val planted = Seq(
      (1000003L, PipeBase), (1000004L, PipeUpper), (1000005L, PipeDirty))
      .toDF("doc_id", "text")
    graft.operators.TrainingPipeline.run(aug.unionByName(planted))
      .orderBy("doc_id")
  }

  /** FIM fixture: the operator's own hash decides selection and both
    * cuts, so the mirror replays `mix32` and the `(hs % (n+1),
    * +((hs//97) % (n-lo+1)))` cut arithmetic and md5-checks the actual
    * reordered PSM string (content check, not just the cut indices).
    */
  val pk4_fim_transform = QueryDef.sqlChecked(
    "pk4_fim_transform",
    s"""WITH mx AS ${mix32Sql("doc_id, text")},
       |t AS (SELECT doc_id, hs, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |      FROM mx),
       |c AS (SELECT doc_id, hs, ws, CAST(len(ws) AS BIGINT) AS n,
       |       hs % (len(ws) + 1) AS lo FROM t),
       |c2 AS (SELECT doc_id, hs, ws, n, lo,
       |        lo + ((hs // 97) % (n - lo + 1)) AS hi FROM c)
       |SELECT doc_id, hs % 100 < 50 AS fim, n AS n_tokens,
       | CAST(lo AS BIGINT) AS cut_lo, CAST(hi AS BIGINT) AS cut_hi,
       | md5(CASE WHEN hs % 100 < 50
       |     THEN '<PRE>' || coalesce(array_to_string(list_slice(ws, 1, lo), ' '), '')
       |       || '<SUF>' || coalesce(array_to_string(list_slice(ws, hi + 1, n), ' '), '')
       |       || '<MID>' || coalesce(array_to_string(list_slice(ws, lo + 1, hi), ' '), '')
       |     ELSE coalesce(array_to_string(ws, ' '), '') END) AS out_md5
       |FROM c2 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.fimTransform(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Token-budget fixture: budget 600 against ~1400 organic tokens per
    * source, so every stratum genuinely truncates (~11 of 25 docs kept)
    * — the operator's full default budget would keep everything and
    * prove nothing. The mirror replays the hash-ordered window cumsum.
    */
  val sp8_token_budget = QueryDef.sqlChecked(
    "sp8_token_budget",
    s"""WITH mx AS ${mix32Sql("doc_id, source, text")},
       |t AS (SELECT doc_id, source, hs,
       |       CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)
       |         AS n_tokens
       |      FROM mx),
       |c AS (SELECT doc_id, source, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY hs, doc_id
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |      FROM t)
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.tokenBudgetPerKey(Tables.documents(s, d), budget = 600L)
      .orderBy("doc_id")
  }

  /** URL-dedup fixture: raw URLs synthesized in-query (the corpus has
    * no url column) over coprime moduli so every canonicalization rule
    * engages — scheme case (%3), www./host case/default port (%4),
    * trailing slash (%2), tracking params + param order (%5), fragment
    * (%7). 500 raw spellings collapse to 80 canonical pages (page id
    * %40 x http/https); the mirror replays both the synthesis and the
    * canonicalization CTE by CTE.
    */
  val dd11_url_dedup = QueryDef.sqlChecked(
    "dd11_url_dedup",
    """WITH u AS (SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
      |    ELSE 'HTTPS://' END
      |  || CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'www.example.com'
      |       WHEN 2 THEN 'Example.COM' ELSE 'www.Example.com:443' END
      |  || '/articles/' || CAST(doc_id % 40 AS VARCHAR)
      |  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |  || CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN '?utm_source=feed'
      |       WHEN 2 THEN '?id=7&utm_campaign=x' WHEN 3 THEN '?utm_medium=a&id=7'
      |       ELSE '?id=7' END
      |  || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u1 FROM u),
      |s2 AS (SELECT doc_id, url, split_part(u1, '?', 1) AS base,
      |        split_part(u1, '?', 2) AS q FROM s1),
      |s3 AS (SELECT doc_id, url, base, q,
      |        regexp_extract(base, '^[a-zA-Z]+://[^/]*') AS prefix FROM s2),
      |s4 AS (SELECT doc_id, url,
      |        regexp_replace(regexp_replace(lower(prefix), '://www\.', '://'),
      |                       ':(80|443)$', '')
      |        || regexp_replace(substr(base, length(prefix) + 1), '/+$', '')
      |        || CASE WHEN len(plist) > 0 THEN '?' || array_to_string(plist, '&')
      |             ELSE '' END AS canon
      |       FROM (SELECT *, list_sort(list_filter(string_split(q, '&'),
      |              p -> p <> '' AND NOT regexp_matches(p,
      |                '^(utm_[a-z]+|fbclid|gclid)='))) AS plist FROM s3))
      |SELECT canon AS canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
      | CAST(count(DISTINCT url) AS BIGINT) AS n_variants, min(doc_id) AS keep_id
      |FROM s4 GROUP BY canon ORDER BY canonical_url""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val urls = Tables.documents(s, d).select(id,
      concat(
        when(pmod(id, lit(3)) === 0, lit("http://"))
          .when(pmod(id, lit(3)) === 1, lit("https://")).otherwise(lit("HTTPS://")),
        when(pmod(id, lit(4)) === 0, lit("example.com"))
          .when(pmod(id, lit(4)) === 1, lit("www.example.com"))
          .when(pmod(id, lit(4)) === 2, lit("Example.COM"))
          .otherwise(lit("www.Example.com:443")),
        lit("/articles/"), pmod(id, lit(40)).cast("string"),
        when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(id, lit(5)) === 0, lit(""))
          .when(pmod(id, lit(5)) === 1, lit("?utm_source=feed"))
          .when(pmod(id, lit(5)) === 2, lit("?id=7&utm_campaign=x"))
          .when(pmod(id, lit(5)) === 3, lit("?utm_medium=a&id=7"))
          .otherwise(lit("?id=7")),
        when(pmod(id, lit(7)) === 0, lit("#section-2")).otherwise(lit("")))
        .as("url"))
    Dedup.urlDedup(urls).orderBy("canonical_url")
  }

  /** Encoding-quality fixture: the organic corpus is clean ASCII, so
    * decode damage is planted in-query in both engines over coprime
    * moduli — mojibake 'caf<C3><A9>' (%13) and 'don<E2><20AC><2122>t'
    * (%17), a U+FFFD replacement char (%19), a C0 control char (%23).
    * The DuckDB pattern builds the same alternation from chr() so the
    * mirror file stays ASCII; RE2 and Java agree on every class used.
    */
  val txt_encoding = QueryDef.sqlChecked(
    "txt_encoding",
    """WITH aug AS (SELECT doc_id, text
      | || CASE WHEN doc_id % 13 = 0 THEN ' caf' || chr(195) || chr(169) ELSE '' END
      | || CASE WHEN doc_id % 17 = 0
      |      THEN ' don' || chr(226) || chr(8364) || chr(8482) || 't' ELSE '' END
      | || CASE WHEN doc_id % 19 = 0 THEN ' bad' || chr(65533) ELSE '' END
      | || CASE WHEN doc_id % 23 = 0 THEN ' ctl' || chr(7) ELSE '' END
      | AS text FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, chr(65533))) AS BIGINT) AS n_replacement,
      |  CAST(len(regexp_extract_all(text, '[\x01-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT)
      |    AS n_control,
      |  CAST(len(regexp_extract_all(text,
      |    chr(195) || '[' || chr(169) || chr(168) || chr(164) || chr(188) || ']|'
      |    || chr(226) || chr(8364) || '[' || chr(8482) || chr(8220) || ']|'
      |    || chr(194) || ' ')) AS BIGINT) AS n_mojibake,
      |  CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT) AS n_nonascii
      | FROM aug)
      |SELECT doc_id, n_replacement, n_control, n_mojibake, n_nonascii,
      | n_replacement + n_control + n_mojibake > 0 AS bad_encoding
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val aug = Tables.documents(s, d).select(id,
      concat(col("text"),
        when(pmod(id, lit(13)) === 0, lit(" caf\u00C3\u00A9")).otherwise(lit("")),
        when(pmod(id, lit(17)) === 0, lit(" don\u00E2\u20AC\u2122t")).otherwise(lit("")),
        when(pmod(id, lit(19)) === 0, lit(" bad\uFFFD")).otherwise(lit("")),
        when(pmod(id, lit(23)) === 0, lit(" ctl\u0007")).otherwise(lit("")))
        .as("text"))
    TextAnalysis.encodingQuality(aug).orderBy("doc_id")
  }

  /** Repeated-span fixture: organic docs rarely share verbatim 8-grams,
    * so two boilerplate runs are planted IN-QUERY in both engines —
    * every 7th doc gets a 12-token run (5 consecutive duplicated
    * starts → one 12-token span), every 11th a 20-token run. Docs
    * divisible by 77 get BOTH, adjacent: the 8-grams crossing the
    * boundary appear in every %77 doc (>= 2 of them at the gate SF),
    * so those docs' two runs MERGE into one long island — pinning the
    * gaps-and-islands merge rule itself, not just single-run recall.
    * Span starts stay exact because the grams crossing from the
    * organic tail into the boilerplate are unique per doc (df = 1).
    */
  private val Dd12Run7 =
    "zz alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
  private val Dd12Run11 =
    "yy one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"

  val dd12_span_dedup = QueryDef.sqlChecked(
    "dd12_span_dedup",
    s"""WITH aug AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 7 = 0 THEN ' $Dd12Run7' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 0 THEN ' $Dd12Run11' ELSE '' END
       |  AS text FROM documents),
       |wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |       FROM aug),
       |pos AS (SELECT doc_id, unnest(range(1, len(ws) - 6)) AS i, ws
       |        FROM wl WHERE len(ws) >= 8),
       |sh AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS s FROM pos),
       |dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
       |        GROUP BY s HAVING count(*) >= 2),
       |hit AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (s)),
       |flg AS (SELECT doc_id, i,
       |         CASE WHEN i - lag(i, 1, i) OVER (PARTITION BY doc_id ORDER BY i) > 1
       |           THEN 1 ELSE 0 END AS f FROM hit),
       |isl AS (SELECT doc_id, i,
       |         sum(f) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
       |           AS island FROM flg),
       |sp AS (SELECT doc_id, island, min(i) AS span_start, max(i) + 7 AS span_end
       |       FROM isl GROUP BY doc_id, island)
       |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       | CAST(span_end AS BIGINT) AS span_end,
       | CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
       |FROM sp ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val aug = Tables.documents(s, d).select(id,
      concat(col("text"),
        when(pmod(id, lit(7)) === 0, lit(s" $Dd12Run7")).otherwise(lit("")),
        when(pmod(id, lit(11)) === 0, lit(s" $Dd12Run11")).otherwise(lit("")))
        .as("text"))
    Dedup.repeatedSpans(aug).orderBy("doc_id", "span_start")
  }

  /** Canonicalization over the dd8 chain fixture (8-token docs — the id
    * tiebreak decides) PLUS a second planted cluster of prefix-extended
    * docs with 10/12/11 tokens (`qv` vocabulary, pairwise J >= 0.73, so
    * a clique) whose longest member is the MIDDLE id 4001 — the oracle
    * pins the length rule itself, not just the tiebreak.
    */
  private val Dd8cRel = {
    val chain = (0 until Dd8Window).map(k => s"'qz' || (t.i + $k)").mkString(", ")
    s"""(SELECT doc_id, text FROM documents WHERE doc_id < 100
       | UNION ALL
       | SELECT 3000 + t.i AS doc_id, concat_ws(' ', $chain) AS text
       | FROM range(5) t(i)
       | UNION ALL
       | SELECT 4000 + u.j AS doc_id, string_agg('qv' || v.k, ' ' ORDER BY v.k) AS text
       | FROM range(3) u(j) JOIN range(12) v(k)
       |   ON v.k < CASE u.j WHEN 0 THEN 10 WHEN 1 THEN 12 ELSE 11 END
       | GROUP BY u.j)""".stripMargin
  }

  val dd8c_canonical = QueryDef.sqlChecked(
    "dd8c_canonical",
    s"""WITH RECURSIVE pairs AS (${ngramJaccardSqlFor(Dd8cRel, 1000)}),
       |edges AS (SELECT da AS a, db AS b FROM pairs
       |          UNION SELECT db AS a, da AS b FROM pairs),
       |reach AS (
       |  SELECT a AS id, a AS lbl FROM edges
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
       |),
       |cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
       |sz AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY cluster),
       |wl AS (SELECT doc_id,
       |        len(list_filter(string_split(text,' '), x -> x <> '')) AS n_toks
       |       FROM $Dd8cRel t),
       |m AS (SELECT cl.id AS doc_id, cl.cluster, sz.cluster_size, wl.n_toks
       |      FROM cl JOIN sz USING (cluster) JOIN wl ON wl.doc_id = cl.id),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY cluster ORDER BY n_toks DESC, doc_id) AS rn FROM m)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(doc_id AS BIGINT) AS keep_id,
       | CAST(n_toks AS BIGINT) AS keep_toks,
       | CAST(cluster_size - 1 AS BIGINT) AS n_dropped
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    val chain = s.range(5L)
      .select((col("id") + 3000L).as("doc_id"),
        concat_ws(" ", (0 until Dd8Window).map(k =>
          concat(lit("qz"), col("id") + k)): _*).as("text"))
    // prefix-extension clique: 10/12/11 tokens, longest is the middle id
    val lens = Seq(0 -> 10, 1 -> 12, 2 -> 11)
    val clique = lens.map { case (j, n) =>
      (4000L + j, (0 until n).map(k => s"qv$k").mkString(" "))
    }
    import s.implicits._
    val planted = chain.unionByName(clique.toDF("doc_id", "text"))
    val fixture = base.unionByName(planted)
    val clusters = Dedup.duplicateClusters(Dedup.ngramJaccard(fixture))
    Dedup.canonicalize(clusters, fixture).orderBy("cluster")
  }

  val txt_ppl = QueryDef.sqlChecked(
    "txt_ppl",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
      |dtok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok
      |         GROUP BY doc_id, w),
      |cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dtok GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      |        FROM cnt),
      |sc AS (SELECT doc_id, k, k * ln((c + 1.0) / (n + v)) AS lp
      |       FROM dtok JOIN cnt USING (w) CROSS JOIN tot),
      |ag AS (SELECT doc_id, sum(k) AS n_tokens, -sum(lp)/sum(k)/ln(2) AS bits
      |       FROM sc GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      | round(bits, 4) AS bits_per_token
      |FROM ag ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.unigramLogProb(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** dc6: Min-K% prob membership screen
    * ([[graft.operators.Decontamination.minKProb]], Shi et al. 2023) —
    * mean log-prob of each doc's bottom-20% token occurrences under
    * the txt_ppl unigram LM, with the occurrence-weighted partial take
    * at the selection boundary replayed exactly (running sum over the
    * (lp, w) order; boundary ties carry equal lp so the partial choice
    * can't move the hash).
    */
  /** dc7: canary-string leak report ([[Decontamination.canaryScan]]).
    * Three registry canaries; leaks for the first two are PLANTED
    * in-query in BOTH engines (the dd10 union pattern — 3 docs carry
    * the first canary, 1 the second), the third stays clean so the
    * zero row is live. Organic text can't collide with the GUID-like
    * patterns, so the counts are exact by construction.
    */
  val dc7_canary_scan = QueryDef.sqlChecked(
    "dc7_canary_scan",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 20000, text || ' CANARY-a7f3c1' FROM documents WHERE doc_id < 3
      |  UNION ALL SELECT doc_id + 21000, text || ' CANARY-b2e994' FROM documents WHERE doc_id < 1),
      |canaries(canary_id, pat) AS (VALUES
      |  (CAST(1 AS BIGINT), 'CANARY-a7f3c1'),
      |  (CAST(2 AS BIGINT), 'CANARY-b2e994'),
      |  (CAST(3 AS BIGINT), 'CANARY-0clean')),
      |hits AS (SELECT c.canary_id, CAST(count(*) AS BIGINT) AS n_docs,
      |          CAST(min(d.doc_id) AS BIGINT) AS min_doc
      |         FROM corpus d JOIN canaries c ON contains(d.text, c.pat)
      |         GROUP BY c.canary_id)
      |SELECT c.canary_id, c.pat,
      |  coalesce(h.n_docs, CAST(0 AS BIGINT)) AS n_docs,
      |  coalesce(h.min_doc, CAST(-1 AS BIGINT)) AS min_doc
      |FROM canaries c LEFT JOIN hits h USING (canary_id)
      |ORDER BY c.canary_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs
      .unionByName(docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" CANARY-a7f3c1")).as("text")))
      .unionByName(docs.filter(col("doc_id") < 1)
        .select((col("doc_id") + 21000).as("doc_id"),
          concat(col("text"), lit(" CANARY-b2e994")).as("text")))
    Decontamination.canaryScan(planted,
        Seq((1L, "CANARY-a7f3c1"), (2L, "CANARY-b2e994"), (3L, "CANARY-0clean")))
      .orderSmall("canary_id")
  }

  /** dc9: fuzzy (near-duplicate) decontamination
    * ([[Decontamination.fuzzyContaminated]]) — train docs that are
    * MinHash-verified near-duplicates (J ≥ 0.5) of any eval doc, the
    * lexical-overlap layer between dc2's exact 13-gram rule and dc4's
    * embedding similarity. Same eval split as the rest of the dc
    * family; the mirror is the SHARED incremental-MinHash chain with
    * the split swapped to (eval = index, train = probe).
    */
  val dc9_fuzzy_decontam = QueryDef.sqlChecked(
    "dc9_fuzzy_decontam", {
      val inner = incrementalMinhashSqlFor(
        c => s"$c % 100 < 3", "doc_id % 100 >= 3")
      s"""SELECT da AS eval_id, db AS train_id, jaccard FROM ($inner)
         |ORDER BY eval_id, train_id""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    Decontamination.fuzzyContaminated(
        train = docs.filter(pmod(col("doc_id"), lit(100)) >= 3),
        evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3))
      .orderBy("eval_id", "train_id")
  }

  /** dc8 planted leak: a 20-unique-token run appended to eval docs with
    * id % 100 == 1 AND to train docs with id % 9 == 4 (both engines
    * plant identically, the dd12b pattern) — the run's 13-grams enter
    * the eval gram set and reappear verbatim in the planted train
    * docs, yielding one 20-token span each (the boundary grams carry
    * each doc's own organic tail, so span starts are exact). Every
    * other train doc is the zero-leak branch. Organic docs sharing a
    * 13-token run is ~impossible at this vocabulary, and the oracle
    * would catch it identically if it happened.
    */
  private val Dc8Run = (1 to 20).map(i => s"xq$i").mkString(" ")

  val dc8_exact_substring = QueryDef.sqlChecked(
    "dc8_exact_substring",
    s"""WITH evr AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 100 = 1 THEN ' $Dc8Run' ELSE '' END AS text
       |  FROM documents WHERE doc_id % 100 < 3),
       |trr AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 9 = 4 THEN ' $Dc8Run' ELSE '' END AS text
       |  FROM documents WHERE doc_id % 100 >= 3),
       |ewl AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS ws
       |        FROM evr),
       |eg AS (SELECT DISTINCT array_to_string(ws[i:i+12], ' ') AS s FROM (
       |  SELECT ws, unnest(range(1, len(ws) - 11)) AS i FROM ewl
       |  WHERE len(ws) >= 13)),
       |twl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |        FROM trr),
       |tsh AS (SELECT doc_id, i, array_to_string(ws[i:i+12], ' ') AS s FROM (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) - 11)) AS i FROM twl
       |  WHERE len(ws) >= 13)),
       |hit AS (SELECT tsh.doc_id, tsh.i FROM tsh JOIN eg USING (s)),
       |flg AS (SELECT doc_id, i,
       |         CASE WHEN i - lag(i, 1, i) OVER (PARTITION BY doc_id ORDER BY i) > 1
       |           THEN 1 ELSE 0 END AS f FROM hit),
       |isl AS (SELECT doc_id, i,
       |         sum(f) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
       |           AS island FROM flg),
       |sp AS (SELECT doc_id, island, min(i) AS span_start, max(i) + 12 AS span_end
       |       FROM isl GROUP BY doc_id, island)
       |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       | CAST(span_end AS BIGINT) AS span_end,
       | CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
       |FROM sp ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(id, col("text"))
    val ev = docs.filter(pmod(id, lit(100)) < 3)
      .select(id, concat(col("text"),
        when(pmod(id, lit(100)) === 1, lit(s" $Dc8Run")).otherwise(lit("")))
        .as("text"))
    val tr = docs.filter(pmod(id, lit(100)) >= 3)
      .select(id, concat(col("text"),
        when(pmod(id, lit(9)) === 4, lit(s" $Dc8Run")).otherwise(lit("")))
        .as("text"))
    Decontamination.exactSubstringLeaks(tr, ev)
      .orderBy("doc_id", "span_start")
  }

  val dc6_mink_prob = QueryDef.sqlChecked(
    "dc6_mink_prob",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
      |dtok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok
      |         GROUP BY doc_id, w),
      |cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dtok GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      |        FROM cnt),
      |sc AS (SELECT doc_id, w, k, ln((c + 1.0) / (n + v)) AS lp
      |       FROM dtok JOIN cnt USING (w) CROSS JOIN tot),
      |st AS (SELECT doc_id, w, k, lp,
      |        CAST(sum(k) OVER (PARTITION BY doc_id) AS BIGINT) AS nt,
      |        CAST(sum(k) OVER (PARTITION BY doc_id ORDER BY lp, w
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |       FROM sc),
      |tk AS (SELECT doc_id, nt, (nt * 20 + 99) // 100 AS kk,
      |        greatest(CAST(0 AS BIGINT),
      |          least(k, (nt * 20 + 99) // 100 - (cum - k))) AS tke, lp
      |       FROM st),
      |ag AS (SELECT doc_id, max(nt) AS n_tokens, max(kk) AS kk,
      |        -sum(tke * lp)/max(kk)/ln(2) AS bits
      |       FROM tk GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(kk AS BIGINT) AS k_sel, round(bits, 4) AS mink_bits
      |FROM ag ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.operators.Decontamination.minKProb(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  /** txt_ppl1b: frozen-LM perplexity — the steady-state form of
    * txt_ppl: the unigram model is trained on the doc_id < 400 slice
    * and the WHOLE corpus is scored against it, so the OOV branch
    * (Laplace floor c = 0 via the LEFT join) is live for the held-out
    * docs' unique tokens and the denominator stays the frozen (n + v).
    * This is the path [[TrainingPipeline.writeUnigramLm]] ships.
    */
  val txt_ppl1b = QueryDef.sqlChecked(
    "txt_ppl1b",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
      |dtok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok
      |         GROUP BY doc_id, w),
      |cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dtok
      |        WHERE doc_id < 400 GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      |        FROM cnt),
      |sc AS (SELECT doc_id, k, k * ln((coalesce(c, 0) + 1.0) / (n + v)) AS lp
      |       FROM dtok LEFT JOIN cnt USING (w) CROSS JOIN tot),
      |ag AS (SELECT doc_id, sum(k) AS n_tokens, -sum(lp)/sum(k)/ln(2) AS bits
      |       FROM sc GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      | round(bits, 4) AS bits_per_token
      |FROM ag ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val lm = TextAnalysis.trainUnigramLm(docs.filter(col("doc_id") < 400))
    TextAnalysis.unigramLogProbWith(docs, lm).orderBy("doc_id")
  }

  val txt_ppl2 = QueryDef.sqlChecked(
    "txt_ppl2",
    """WITH wl AS MATERIALIZED (SELECT doc_id,
      |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |        FROM wl),
      |bi AS (SELECT a.doc_id, a.w AS pa, b.w AS pb
      |       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |dt AS (SELECT doc_id, pa, pb, CAST(count(*) AS BIGINT) AS k FROM bi
      |       GROUP BY doc_id, pa, pb),
      |c2 AS (SELECT pa, pb, CAST(sum(k) AS BIGINT) AS c2 FROM dt GROUP BY pa, pb),
      |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY w),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
      |sc AS (SELECT doc_id, k, k * ln((c2.c2 + 1.0) / (c1.c1 + vv.v)) AS lp
      |       FROM dt JOIN c2 USING (pa, pb) JOIN c1 ON c1.w = dt.pa CROSS JOIN vv),
      |ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trans,
      |        -sum(lp)/sum(k)/ln(2) AS bits FROM sc GROUP BY doc_id)
      |SELECT wl.doc_id, coalesce(ag.n_trans, CAST(0 AS BIGINT)) AS n_trans,
      | coalesce(round(ag.bits, 4), 0.0) AS bits_per_token
      |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin) {
    (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** txt_ppl4: interpolated Kneser-Ney bigram surprisal
    * ([[TextAnalysis.knBigramLogProb]], the KenLM default smoothing) —
    * txt_ppl2's screen with the production discount/continuation
    * estimator. The mirror replays the full estimator relationally
    * (history mass + distinct-continuation counts off the bigram-type
    * table, the continuation distribution off distinct histories per
    * word, fixed D = 0.75) with the SAME expression tree, and the
    * k-weighted surprisal crosses as integer micro-nats per
    * (doc, a, b) row BEFORE the per-doc sum — partition-order-free
    * where the txt_ppl family's double sums lean on the 4-dp round.
    */
  val txt_ppl4_kn = QueryDef.sqlChecked(
    "txt_ppl4_kn",
    """WITH wl AS MATERIALIZED (SELECT doc_id,
      |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      |        FROM wl),
      |bi AS (SELECT a.doc_id, a.w AS pa, b.w AS pb
      |       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |dt AS MATERIALIZED (SELECT doc_id, pa, pb, CAST(count(*) AS BIGINT) AS k
      |       FROM bi GROUP BY doc_id, pa, pb),
      |c2 AS MATERIALIZED (SELECT pa, pb, CAST(sum(k) AS BIGINT) AS c2
      |       FROM dt GROUP BY pa, pb),
      |ca AS MATERIALIZED (SELECT pa, CAST(sum(c2) AS BIGINT) AS ca,
      |        CAST(count(*) AS BIGINT) AS n1a FROM c2 GROUP BY pa),
      |nb AS MATERIALIZED (SELECT pb, CAST(count(*) AS BIGINT) AS n1b
      |       FROM c2 GROUP BY pb),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM c2),
      |sc AS (SELECT doc_id, k,
      |        CAST(round(k * (-ln(
      |          greatest(c2.c2 - 0.75, 0.0) / ca.ca
      |          + 0.75 * ca.n1a / ca.ca * (nb.n1b / nt.n1tot)
      |        )) * 1000000) AS BIGINT) AS mic
      |       FROM dt JOIN c2 USING (pa, pb) JOIN ca ON ca.pa = dt.pa
      |         JOIN nb ON nb.pb = dt.pb CROSS JOIN nt),
      |ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trans,
      |        round(CAST(sum(mic) AS BIGINT) / 1000000.0
      |              / CAST(sum(k) AS BIGINT) / ln(2), 4) AS bits
      |       FROM sc GROUP BY doc_id)
      |SELECT wl.doc_id, coalesce(ag.n_trans, CAST(0 AS BIGINT)) AS n_trans,
      | coalesce(ag.bits, 0.0) AS bits_per_token
      |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin) {
    (s, d) =>
      TextAnalysis.knBigramLogProb(Tables.documents(s, d)).orderBy("doc_id")
  }

  val txt_clf = QueryDef.sqlChecked(
    "txt_clf",
    s"""WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |            FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
       |h0 AS (SELECT doc_id, ${polySql("w", 97)} AS hv FROM tok),
       |${mixCtes("h0", "hm", keep = Seq("doc_id"), cols = Seq("hv"))},
       |wt AS (SELECT doc_id,
       |        (((hv % 1024) * 1103515245 + 12345) % 2048) / 1024.0 - 1.0 AS w
       |       FROM hm),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        round(sum(w)/count(*), 4) AS margin FROM wt GROUP BY doc_id)
       |SELECT wl.doc_id, coalesce(ag.n_tokens, 0) AS n_tokens,
       | coalesce(ag.margin, 0.0) AS margin,
       | coalesce(ag.margin, 0.0) > 0.0 AS keep
       |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin) {
    (s, d) =>
      TextAnalysis.linearQualityScore(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** dd12's drop-decision form over the SAME planted-boilerplate aug:
    * short docs that pick up both runs cross the 0.3 duplicated-token
    * threshold, long docs don't — both branches live at the gate SF.
    */
  val dd12b_span_drop = QueryDef.sqlChecked(
    "dd12b_span_drop",
    s"""WITH aug AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 7 = 0 THEN ' $Dd12Run7' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 0 THEN ' $Dd12Run11' ELSE '' END
       |  AS text FROM documents),
       |wl0 AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |        FROM aug),
       |pos AS (SELECT doc_id, unnest(range(1, len(ws) - 6)) AS i, ws
       |        FROM wl0 WHERE len(ws) >= 8),
       |sh AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS s FROM pos),
       |dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
       |        GROUP BY s HAVING count(*) >= 2),
       |hit AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (s)),
       |flg AS (SELECT doc_id, i,
       |         CASE WHEN i - lag(i, 1, i) OVER (PARTITION BY doc_id ORDER BY i) > 1
       |           THEN 1 ELSE 0 END AS f FROM hit),
       |isl AS (SELECT doc_id, i,
       |         sum(f) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
       |           AS island FROM flg),
       |sp AS (SELECT doc_id, island, min(i) AS span_start, max(i) + 7 AS span_end
       |       FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT doc_id, span_end,
       |         greatest(span_start, coalesce(lag(span_end) OVER
       |           (PARTITION BY doc_id ORDER BY span_start) + 1, span_start))
       |           AS cov_start
       |        FROM sp),
       |agg AS (SELECT doc_id,
       |         CAST(sum(span_end - cov_start + 1) AS BIGINT) AS dup_tokens
       |        FROM cov GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       | coalesce(agg.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       | round(CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE)/len(w.ws), 4) AS dup_frac,
       | round(CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE)/len(w.ws), 4) > 0.3 AS drop
       |FROM wl0 w LEFT JOIN agg USING (doc_id)
       |ORDER BY w.doc_id""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val aug = Tables.documents(s, d).select(id,
      concat(col("text"),
        when(pmod(id, lit(7)) === 0, lit(s" $Dd12Run7")).otherwise(lit("")),
        when(pmod(id, lit(11)) === 0, lit(s" $Dd12Run11")).otherwise(lit("")))
        .as("text"))
    Dedup.spanDupFraction(aug).orderBy("doc_id")
  }

  val txt_entropy = QueryDef.sqlChecked(
    "txt_entropy",
    """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      |cf AS (SELECT doc_id, c, count(*) AS f FROM ch GROUP BY doc_id, c),
      |cl AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS L FROM cf GROUP BY doc_id),
      |ent AS (SELECT cf.doc_id,
      |         -sum((CAST(f AS DOUBLE)/L) * ln(CAST(f AS DOUBLE)/L)/ln(2)) AS e
      |        FROM cf JOIN cl USING (doc_id) GROUP BY cf.doc_id),
      |g AS (SELECT doc_id, unnest(range(1, length(text) - 2)) AS i, text
      |      FROM documents WHERE length(text) >= 4),
      |gr AS (SELECT doc_id, substr(text, CAST(i AS INT), 4) AS s FROM g),
      |ga AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total,
      |        CAST(count(DISTINCT s) AS BIGINT) AS dist FROM gr GROUP BY doc_id)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars_obs,
      | round(coalesce(ent.e, 0.0), 4) AS entropy_bits,
      | coalesce(ga.total, CAST(0 AS BIGINT)) AS gram4_total,
      | coalesce(ga.dist, CAST(0 AS BIGINT)) AS gram4_distinct,
      | round(CASE WHEN coalesce(ga.total, 0) = 0 THEN 1.0
      |        ELSE CAST(ga.dist AS DOUBLE)/ga.total END, 4) AS gram4_ratio
      |FROM documents d
      |LEFT JOIN ent ON ent.doc_id = d.doc_id
      |LEFT JOIN ga ON ga.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.charStats(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Consensus fixture: the organic slice is restricted to docs that
    * HAVE embeddings (vec_id 0..1999 aligns with doc_id), then two
    * planted twin pairs separate the signals — 9000/9001 share text AND
    * near-identical vectors (cos 0.8 -> consensus keeps), 9100/9101
    * share text but orthogonal vectors (cos 0 -> lexical-only, dropped).
    * Organic lexical pairs ride along and are filtered by their real
    * (synthetic-random, ~orthogonal) embedding cosine in both engines.
    */
  private def dd14Vec(hot: Int, scale: Double): (String, Array[Double]) = {
    val v = Array.fill(64)(0.0)
    v(hot) = scale
    (v.map(x => if (x == 0.0) "0.0" else x.toString).mkString("[", ",", "]"), v)
  }

  private val Dd14Docs = Seq(
    (9000L, "qc zero qc one qc two qc three qc four"),
    (9001L, "qc zero qc one qc two qc three qc four"),
    (9100L, "qd zero qd one qd two qd three qd four"),
    (9101L, "qd zero qd one qd two qd three qd four"))

  private val Dd14DocsRel = {
    val planted = Dd14Docs
      .map { case (id, t) => s"SELECT $id AS doc_id, '$t' AS text" }
      .mkString(" UNION ALL ")
    s"(SELECT doc_id, text FROM documents WHERE doc_id < 2000 UNION ALL $planted)"
  }

  val dd14_consensus_neardup = QueryDef.sqlChecked(
    "dd14_consensus_neardup", {
      val e9000 = dd14Vec(0, 1.0)._1
      val e9001 = { // 0.8*e0 + 0.6*e1 -> cos vs e0 = 0.8 exactly
        val v = Array.fill(64)("0.0"); v(0) = "0.8"; v(1) = "0.6"
        v.mkString("[", ",", "]")
      }
      val e9100 = dd14Vec(62, 1.0)._1
      val e9101 = dd14Vec(63, 1.0)._1
      s"""WITH pairs AS (${minhashLshSqlFor(Dd14DocsRel, 1000)}),
         |em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |       UNION ALL SELECT 9000, $e9000
         |       UNION ALL SELECT 9001, $e9001
         |       UNION ALL SELECT 9100, $e9100
         |       UNION ALL SELECT 9101, $e9101),
         |j AS (SELECT p.da, p.db, p.jaccard,
         |       round(list_cosine_similarity(x.v, y.v), 4) AS cos_sim
         |      FROM pairs p JOIN em x ON x.vec_id = p.da
         |                   JOIN em y ON y.vec_id = p.db)
         |SELECT da, db, jaccard, cos_sim FROM j WHERE cos_sim > 0.5
         |ORDER BY da, db""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 2000)
    val docs = base.unionByName(Dd14Docs.toDF("doc_id", "text"))
    val pv9001 = { val v = Array.fill(64)(0.0); v(0) = 0.8; v(1) = 0.6; v }
    val plantedVecs = Seq(
      (9000L, dd14Vec(0, 1.0)._2), (9001L, pv9001),
      (9100L, dd14Vec(62, 1.0)._2), (9101L, dd14Vec(63, 1.0)._2))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(plantedVecs.toDF("vec_id", "embedding"))
    Dedup.consensusNearDup(Dedup.minhashLsh(docs), emb).orderBy("da", "db")
  }

  /** pipe2: the oracle replays all four stages IN ORDER — classifier
    * screen, span-coverage drop computed on the screened corpus (the
    * df base matters), curriculum phases, phase summary — so any stage
    * reordering or threshold drift breaks the hash, not just the row
    * counts.
    */
  val pipe2_screen_and_phase = QueryDef.sqlChecked(
    "pipe2_screen_and_phase",
    s"""WITH wl AS (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
       |h0 AS (SELECT doc_id, ${polySql("w", 97)} AS hv FROM tok),
       |${mixCtes("h0", "hm", keep = Seq("doc_id"), cols = Seq("hv"))},
       |wt AS (SELECT doc_id,
       |        (((hv % 1024) * 1103515245 + 12345) % 2048) / 1024.0 - 1.0 AS w
       |       FROM hm),
       |mg AS (SELECT doc_id, round(sum(w)/count(*), 4) AS margin FROM wt
       |       GROUP BY doc_id),
       |d1 AS (SELECT wl.doc_id, wl.ws FROM wl JOIN mg USING (doc_id)
       |       WHERE mg.margin > -0.2),
       |pos AS (SELECT doc_id, unnest(range(1, len(ws) - 6)) AS i, ws
       |        FROM d1 WHERE len(ws) >= 8),
       |sh AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS s FROM pos),
       |dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
       |        GROUP BY s HAVING count(*) >= 2),
       |hit AS (SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (s)),
       |flg AS (SELECT doc_id, i,
       |         CASE WHEN i - lag(i, 1, i) OVER (PARTITION BY doc_id ORDER BY i) > 1
       |           THEN 1 ELSE 0 END AS f FROM hit),
       |isl AS (SELECT doc_id, i,
       |         sum(f) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
       |           AS island FROM flg),
       |sp AS (SELECT doc_id, island, min(i) AS s0, max(i) + 7 AS s1
       |       FROM isl GROUP BY doc_id, island),
       |cv AS (SELECT doc_id, s1, greatest(s0, coalesce(lag(s1) OVER
       |        (PARTITION BY doc_id ORDER BY s0) + 1, s0)) AS c0
       |       FROM sp),
       |dt AS (SELECT doc_id, CAST(sum(s1 - c0 + 1) AS BIGINT) AS dup_tokens
       |       FROM cv GROUP BY doc_id),
       |d2 AS (SELECT d1.doc_id, d1.ws FROM d1 LEFT JOIN dt USING (doc_id)
       |       WHERE round(CAST(coalesce(dt.dup_tokens, 0) AS DOUBLE)/len(d1.ws), 4)
       |             <= 0.3),
       |q AS (SELECT doc_id,
       |  round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)
       |     /len(ws)*0.5 + least(len(ws), 100)/100.0*0.5, 4) AS score FROM d2),
       |mx AS ${mix32Sql("doc_id")},
       |ph AS (SELECT q.doc_id, q.score,
       |        CASE WHEN q.score >= 0.5 AND mx.hs % 100 < 30
       |          THEN 'anneal' ELSE 'pretrain' END AS phase
       |       FROM q JOIN mx USING (doc_id))
       |SELECT ph.phase, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(len(d2.ws)) AS BIGINT) AS n_tokens,
       | round(avg(ph.score), 4) AS mean_quality
       |FROM ph JOIN d2 USING (doc_id)
       |GROUP BY ph.phase ORDER BY ph.phase""".stripMargin) { (s, d) =>
    graft.operators.TrainingPipeline.screenAndPhase(Tables.documents(s, d))
      .orderSmall("phase")
  }

  val rl2_corpus_card = QueryDef.sqlChecked(
    "rl2_corpus_card",
    s"""WITH wl AS (SELECT doc_id, source, lang,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |m AS (SELECT source, lang, len(ws) AS nw,
       |  round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)
       |     /len(ws)*0.5 + least(len(ws), 100)/100.0*0.5, 4) AS score FROM wl),
       |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS BIGINT)
       |    / (count(*) * 10000.0), 4) AS mean_quality,
       |  CAST(sum(CASE WHEN nw < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
       | FROM m GROUP BY source),
       |vc AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM
       |  (SELECT DISTINCT source, unnest(ws) AS w FROM wl) GROUP BY source)
       |SELECT ag.source, n_docs, n_tokens, vocab, n_langs, mean_quality, n_short
       |FROM ag JOIN vc USING (source) ORDER BY ag.source""".stripMargin) { (s, d) =>
    TextAnalysis.corpusCard(Tables.documents(s, d)).orderSmall("source")
  }

  /** rl3: per-language length-distribution percentiles — the datasheet
    * numbers that size packing/chunking budgets. Spark's exact
    * `percentile` and DuckDB's `quantile_cont` share the linear-
    * interpolation-at-rank-p*(n-1) definition, so the mirror is a
    * direct replay; round-4 absorbs fp fold-order drift. The approx
    * (sketch) twin is spec-pinned, not mirrored — its value choice is
    * engine-specific (the q10b convention).
    */
  val rl3_length_quantiles = QueryDef.sqlChecked(
    "rl3_length_quantiles",
    """WITH t AS (SELECT lang,
      |  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS nw
      | FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      | round(quantile_cont(nw, 0.1), 4) AS p10,
      | round(quantile_cont(nw, 0.5), 4) AS p50,
      | round(quantile_cont(nw, 0.9), 4) AS p90
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    TextAnalysis.lengthQuantiles(Tables.documents(s, d)).orderSmall("lang")
  }

  val sp9_curriculum = QueryDef.sqlChecked(
    "sp9_curriculum",
    s"""WITH wl AS (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |q AS (SELECT doc_id,
       |  round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)
       |     /len(ws)*0.5 + least(len(ws), 100)/100.0*0.5, 4) AS quality_score FROM wl),
       |mx AS ${mix32Sql("doc_id")},
       |h2 AS (SELECT doc_id, xor(m2, m2 >> 13) AS hs2 FROM (
       |  SELECT doc_id, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT doc_id,
       |      (((doc_id + 1000003) % 4294967296) + 4294967296) % 4294967296 AS h0
       |    FROM documents)))
       |SELECT q.doc_id, q.quality_score,
       | CASE WHEN q.quality_score >= 0.5 AND mx.hs % 100 < 30
       |   THEN 'anneal' ELSE 'pretrain' END AS phase,
       | CAST(h2.hs2 AS BIGINT) AS order_key
       |FROM q JOIN mx USING (doc_id) JOIN h2 USING (doc_id)
       |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
    Sampling.curriculum(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** BPE fixture merges: TextAnalysis.bpeTrain(documents, 24) on the
    * sf0.01 corpus, frozen as a literal so the oracle can replay the
    * application without mirroring training (training's iterative loop
    * is not SQL-expressible; it IS spec-pinned in BpeSpec). The table
    * is corpus-plausible on every SF — application is deterministic
    * under ANY fixed merges.
    */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"))

  /** DuckDB fragment segmenting one word under [[BpeMerges]] by string
    * rewriting: symbols are wrapped in U+0001 on BOTH sides
    * (`\x01a\x01\x01b\x01...`), and each merge is one `replace()` of
    * `\x01a\x01\x01b\x01` with `\x01ab\x01`, innermost-first = rank
    * order. The double wrap is what makes plain `replace()` an EXACT
    * simulation of left-to-right non-overlapping pair merging: a match
    * consumes both wrapped symbols entirely (adjacent matches share no
    * characters, so "aaaa" merges to [aa, aa], not [aa, a, a]), and a
    * pattern can never match a symbol's prefix/suffix because every
    * symbol boundary is delimited on both sides. Precondition: text
    * free of U+0001 (generator guarantees; encodingQuality screens).
    */
  private def bpeSegSql(wordExpr: String): String = {
    val base = s"e'\\x01' || array_to_string(string_split($wordExpr, ''), " +
      s"e'\\x01\\x01') || e'\\x01'"
    BpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, e'\\x01$a\\x01\\x01$b\\x01', e'\\x01$a$b\\x01')"
    }
  }

  /** tok1: real subword tokenization (BPE, Sennrich 2016) under the
    * frozen fixture merges — the md5 of the joined subword stream makes
    * this a full-content check of every segmentation decision, not just
    * the counts.
    */
  val tok1_bpe_tokenize = QueryDef.sqlChecked(
    "tok1_bpe_tokenize",
    s"""WITH wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl),
       |seg AS (SELECT doc_id, j, ${bpeSegSql("ws[j]")} AS s FROM tok),
       |cnt AS (SELECT doc_id, j,
       |         CAST(len(string_split(s, e'\\x01\\x01')) AS BIGINT) AS nb,
       |         replace(substr(s, 2, length(s) - 2), e'\\x01\\x01', ' ') AS toks
       |        FROM seg),
       |ag AS (SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
       |        md5(string_agg(toks, ' ' ORDER BY j)) AS bpe_md5
       |       FROM cnt GROUP BY doc_id)
       |SELECT wl.doc_id, CAST(len(wl.ws) AS BIGINT) AS n_words,
       | coalesce(ag.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       | coalesce(ag.bpe_md5, md5('')) AS bpe_md5
       |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin) {
    (s, d) =>
      TextAnalysis.bpeTokenize(Tables.documents(s, d), BpeMerges)
        .orderBy("doc_id")
  }

  /** tok2: tokenizer fertility audit — per-language BPE tokens per
    * whitespace word under the frozen fixture merges; the tokenizer-QA
    * number that flags languages under-served by the merge table.
    */
  val tok2_fertility = QueryDef.sqlChecked(
    "tok2_fertility",
    s"""WITH wl AS MATERIALIZED (SELECT doc_id, lang,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl),
       |seg AS (SELECT doc_id, j, ${bpeSegSql("ws[j]")} AS s FROM tok),
       |nb AS (SELECT doc_id,
       |        CAST(sum(len(string_split(s, e'\\x01\\x01'))) AS BIGINT) AS nb
       |       FROM seg GROUP BY doc_id),
       |ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(len(ws)) AS BIGINT) AS n_words,
       |        CAST(sum(coalesce(nb.nb, 0)) AS BIGINT) AS n_bpe_tokens
       |       FROM wl LEFT JOIN nb USING (doc_id) GROUP BY lang)
       |SELECT lang, n_docs, n_words, n_bpe_tokens,
       | CASE WHEN n_words > 0
       |      THEN round(CAST(n_bpe_tokens AS DOUBLE)/n_words, 4)
       |      ELSE 0.0 END AS fertility
       |FROM ag ORDER BY lang""".stripMargin) { (s, d) =>
    TextAnalysis.tokenizerFertility(Tables.documents(s, d), BpeMerges)
      .orderSmall("lang")
  }

  /** tok3: leftmost-longest MaxMatch tokenization over the piece vocab
    * [[BpeMerges]] induces — the fast-WordPiece decoding rule
    * ([[graft.operators.TextAnalysis.maxMatchTokenize]]): same learned
    * artifact as tok1, different matching algorithm. The mirror runs
    * the TRUE per-position greedy loop as a recursive CTE — each
    * recursion step consumes the longest matching piece (a correlated
    * LIMIT-1 scan of the piece list, falling back to one character) —
    * so every positional match decision is hash-checked via the md5 of
    * the full token stream, the tok1 discipline.
    */
  private val Tok3Sql: String = {
    val pieces = BpeMerges.map { case (a, b) => a + b }.distinct
    val piecesList = pieces.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE
       |pieces(piece) AS (VALUES $piecesList),
       |wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tw AS MATERIALIZED (SELECT doc_id, j, ws[j] AS w FROM (
       |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl)),
       |seg(doc_id, j, w, pos, n, toks) AS (
       |  SELECT doc_id, j, w, 1, CAST(0 AS BIGINT), '' FROM tw
       |  UNION ALL
       |  SELECT doc_id, j, w, pos + length(piece), n + 1,
       |    CASE WHEN toks = '' THEN piece ELSE toks || ' ' || piece END
       |  FROM (
       |    SELECT s.*, coalesce(
       |      (SELECT p.piece FROM pieces p
       |       WHERE substr(s.w, s.pos, length(p.piece)) = p.piece
       |       ORDER BY length(p.piece) DESC, p.piece LIMIT 1),
       |      substr(s.w, s.pos, 1)) AS piece
       |    FROM seg s WHERE s.pos <= length(s.w))),
       |fin AS (SELECT doc_id, j, n, toks FROM seg WHERE pos = length(w) + 1),
       |ag AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_mm_tokens,
       |        md5(string_agg(toks, ' ' ORDER BY j)) AS mm_md5
       |       FROM fin GROUP BY doc_id)
       |SELECT wl.doc_id, CAST(len(wl.ws) AS BIGINT) AS n_words,
       | coalesce(ag.n_mm_tokens, CAST(0 AS BIGINT)) AS n_mm_tokens,
       | coalesce(ag.mm_md5, md5('')) AS mm_md5
       |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin
  }

  val tok3_maxmatch = QueryDef.sqlChecked("tok3_maxmatch", Tok3Sql) { (s, d) =>
    TextAnalysis.maxMatchTokenize(Tables.documents(s, d), BpeMerges)
      .orderBy("doc_id")
  }

  /** tok4: unigram-LM (Viterbi) tokenization
    * ([[graft.operators.TextAnalysis.unigramTokenize]], the
    * SentencePiece decoding rule) — bootstrap the piece LM from
    * MaxMatch counts (EM iteration 0 of unigram training), then
    * re-segment every word by max likelihood under integer
    * micro-−ln-probs; ties → fewer pieces → lexicographically smallest
    * token stream. The mirror replays the greedy bootstrap per DISTINCT
    * word (tok3's recursive CTE, occurrence-weighted back through the
    * word-count join), derives the micro-cost table, and runs the
    * Viterbi DP as a SECOND recursive CTE with per-round argmin
    * pruning: each round keeps `min(key)` per (word, pos) where key is
    * the zero-padded `cost|n|toks` pack — lexicographic min IS the DP
    * order, and a dominated state can never produce a better final
    * (suffix extensions preserve the order), so the pruned recursion is
    * exactly Viterbi. Micro-costs cross engines as
    * `floor(x·1e6 + 0.5)` vs `round(x·1e6)::BIGINT` (x ≥ 0, the
    * recorded half-away-from-zero pattern).
    */
  /** Shared tok4 CTE chain — `WITH RECURSIVE` through `pb` (the
    * Viterbi-1 best segmentation per distinct word, under the MaxMatch
    * bootstrap LM). The tok4/tok5/tok6/tok7 mirrors COMPOSE this
    * builder with [[tokEmRoundCtes]] / [[tokUnigramFinalSelect]]
    * instead of substring-splicing a finished query (the r14 ADVICE
    * fragility: a rename inside tok4's SQL silently corrupted tok5).
    * Ends with a trailing comma — callers append further CTEs or the
    * final `ag` directly.
    */
  private def tokUnigramPrefix: String = {
    val pieces = BpeMerges.map { case (a, b) => a + b }.distinct
    val piecesList = pieces.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE
       |pieces(piece) AS (VALUES $piecesList),
       |wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tw AS MATERIALIZED (SELECT doc_id, j, ws[j] AS w FROM (
       |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl)),
       |dw AS MATERIALIZED (SELECT DISTINCT w FROM tw),
       |seg(w, pos, toks) AS (
       |  SELECT w, 1, '' FROM dw
       |  UNION ALL
       |  SELECT w, pos + length(piece),
       |    CASE WHEN toks = '' THEN piece ELSE toks || ' ' || piece END
       |  FROM (
       |    SELECT s.*, coalesce(
       |      (SELECT p.piece FROM pieces p
       |       WHERE substr(s.w, s.pos, length(p.piece)) = p.piece
       |       ORDER BY length(p.piece) DESC, p.piece LIMIT 1),
       |      substr(s.w, s.pos, 1)) AS piece
       |    FROM seg s WHERE s.pos <= length(s.w))),
       |mm AS MATERIALIZED (SELECT w, toks FROM seg WHERE pos = length(w) + 1),
       |wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS occ
       |      FROM tw GROUP BY w),
       |boot AS MATERIALIZED (
       |  SELECT piece, CAST(sum(occ) AS BIGINT) AS cnt FROM (
       |    SELECT wc.occ, unnest(string_split(mm.toks, ' ')) AS piece
       |    FROM mm JOIN wc ON wc.w = mm.w)
       |  GROUP BY piece),
       |${tokCostViterbiCtes(boot = "boot", suffix = "")}""".stripMargin
  }

  /** One cost-table + pruned-Viterbi + best-segmentation CTE group:
    * `tot⟨s⟩`/`vs⟨s⟩`/`vit⟨s⟩`/`best⟨s⟩`/`pb⟨s⟩` derived from piece
    * counts in `boot`. Shared by the bootstrap chain (suffix "") and
    * every EM round (suffix "2", "3", …). Trailing comma included.
    */
  private def tokCostViterbiCtes(boot: String, suffix: String): String = {
    val (tot, vs, vit, best, pb) =
      (s"tot$suffix", s"vs$suffix", s"vit$suffix", s"best$suffix", s"pb$suffix")
    s"""$tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM $boot),
       |$vs AS MATERIALIZED (
       |  SELECT piece, length(piece) AS pl, substr(piece, 1, 1) AS c1,
       |    CAST(round((ln(CAST((SELECT tot FROM $tot) AS DOUBLE))
       |                - ln(CAST(cnt AS DOUBLE))) * 1000000) AS BIGINT) AS cmic
       |  FROM $boot),
       |$vit(w, pos, key) AS (
       |  SELECT w, 1, printf('%015d', 0) || '|' || printf('%04d', 0) || '|' FROM dw
       |  UNION
       |  SELECT w, pos2, min(key2) FROM (
       |    SELECT s.w, s.pos + v.pl AS pos2,
       |      printf('%015d', CAST(substr(s.key, 1, 15) AS BIGINT) + v.cmic) || '|' ||
       |      printf('%04d', CAST(substr(s.key, 17, 4) AS BIGINT) + 1) || '|' ||
       |      (CASE WHEN s.pos = 1 THEN v.piece
       |            ELSE substr(s.key, 22) || ' ' || v.piece END) AS key2
       |    FROM $vit s JOIN $vs v
       |      ON substr(s.w, s.pos, 1) = v.c1 AND substr(s.w, s.pos, v.pl) = v.piece
       |    WHERE s.pos <= length(s.w)) GROUP BY w, pos2),
       |$best AS MATERIALIZED (
       |  SELECT w, min(key) AS key FROM $vit WHERE pos = length(w) + 1 GROUP BY w),
       |$pb AS (SELECT w, CAST(substr(key, 17, 4) AS BIGINT) AS n,
       |        substr(key, 22) AS toks FROM $best),""".stripMargin
  }

  /** One EM round on top of a previous segmentation CTE `prevPb`:
    * M-step recount (`boot⟨s⟩`, occurrence-weighted; unused pieces
    * drop out — the vocabulary prune) followed by the re-estimated
    * cost table and re-segmentation Viterbi. Trailing comma included.
    */
  private def tokEmRoundCtes(prevPb: String, suffix: String): String =
    s"""boot$suffix AS MATERIALIZED (
       |  SELECT piece, CAST(sum(occ) AS BIGINT) AS cnt FROM (
       |    SELECT wc.occ, unnest(string_split($prevPb.toks, ' ')) AS piece
       |    FROM $prevPb JOIN wc ON wc.w = $prevPb.w)
       |  GROUP BY piece),
       |${tokCostViterbiCtes(boot = s"boot$suffix", suffix = suffix)}""".stripMargin

  /** The per-document roll-up + final projection over a segmentation
    * CTE `pb⟨s⟩`, emitting `(doc_id, n_words, nCol, md5Col)`.
    */
  private def tokUnigramFinalSelect(
      pb: String, nCol: String, md5Col: String): String =
    s"""ag AS (SELECT tw.doc_id, CAST(sum($pb.n) AS BIGINT) AS $nCol,
       |        md5(string_agg($pb.toks, ' ' ORDER BY tw.j)) AS $md5Col
       |       FROM tw JOIN $pb ON $pb.w = tw.w GROUP BY tw.doc_id)
       |SELECT wl.doc_id, CAST(len(wl.ws) AS BIGINT) AS n_words,
       |  coalesce(ag.$nCol, CAST(0 AS BIGINT)) AS $nCol,
       |  coalesce(ag.$md5Col, md5('')) AS $md5Col
       |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin

  private val Tok4Sql: String =
    tokUnigramPrefix + "\n" +
      tokUnigramFinalSelect("pb", "n_uni_tokens", "uni_md5")

  val tok4_unigram = QueryDef.sqlChecked("tok4_unigram", Tok4Sql) { (s, d) =>
    TextAnalysis.unigramTokenize(Tables.documents(s, d), BpeMerges)
      .orderBy("doc_id")
  }

  /** tok5 mirror: one full EM round on top of tok4's chain — the
    * M-step recounts pieces from the Viterbi-1 segmentation (`pb`,
    * occurrence-weighted; unused pieces drop out, shrinking the LM),
    * then a SECOND per-round-argmin-pruned Viterbi recursive CTE
    * re-segments under the re-estimated costs. Same packed
    * `cost|n|toks` keys and MATERIALIZED stage discipline as tok4.
    */
  private val Tok5Sql: String =
    tokUnigramPrefix + "\n" +
      tokEmRoundCtes("pb", "2") + "\n" +
      tokUnigramFinalSelect("pb2", "n_em1_tokens", "em1_md5")

  val tok5_unigram_em1 = QueryDef.sqlChecked("tok5_unigram_em1", Tok5Sql) { (s, d) =>
    TextAnalysis.unigramTokenizeEm1(Tables.documents(s, d), BpeMerges)
      .orderBy("doc_id")
  }

  /** tok6 mirror: unigram-LM EM run to convergence, capped at THREE
    * rounds — the full SentencePiece training loop. The Spark side
    * early-stops at the first exact count fixed point; the mirror
    * unrolls all three rounds unconditionally, which provably lands on
    * the same segmentation (identical counts ⇒ identical costs ⇒ every
    * further Viterbi replays itself — the unroll just re-derives the
    * fixed point). Each round composes [[tokEmRoundCtes]]: M-step
    * recount, re-estimated micro-costs, per-round-argmin-pruned
    * Viterbi — the tok5 chain iterated.
    */
  private val Tok6Sql: String =
    tokUnigramPrefix + "\n" +
      tokEmRoundCtes("pb", "2") + "\n" +
      tokEmRoundCtes("pb2", "3") + "\n" +
      tokEmRoundCtes("pb3", "4") + "\n" +
      tokUnigramFinalSelect("pb4", "n_em_tokens", "em_md5")

  val tok6_unigram_em = QueryDef.sqlChecked("tok6_unigram_em", Tok6Sql) { (s, d) =>
    TextAnalysis.unigramTokenizeEm(Tables.documents(s, d), BpeMerges, rounds = 3)
      .orderBy("doc_id")
  }

  /** tok7 mirror: the vocabulary-prune view of the 3-round EM loop —
    * one row per BOOTSTRAP piece with its bootstrap count, its count
    * under the final (fixed-point) segmentation, the final micro-cost
    * (−1 sentinel when pruned: a nullable BIGINT would cross pandas as
    * float64, the recorded pk1 dtype trap) and the kept flag. `boot4`
    * here is ONLY the round-4 M-step recount (counts of pb3) — the
    * final counts the Spark loop returns; no fourth Viterbi is run on
    * either side.
    */
  private val Tok7Sql: String =
    tokUnigramPrefix + "\n" +
      tokEmRoundCtes("pb", "2") + "\n" +
      tokEmRoundCtes("pb2", "3") + "\n" +
      s"""boot4 AS MATERIALIZED (
         |  SELECT piece, CAST(sum(occ) AS BIGINT) AS cnt FROM (
         |    SELECT wc.occ, unnest(string_split(pb3.toks, ' ')) AS piece
         |    FROM pb3 JOIN wc ON wc.w = pb3.w)
         |  GROUP BY piece),
         |tot4 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM boot4)
         |SELECT b.piece AS piece,
         |  CAST(b.cnt AS BIGINT) AS boot_cnt,
         |  CAST(coalesce(f.cnt, 0) AS BIGINT) AS final_cnt,
         |  CASE WHEN f.cnt IS NULL THEN CAST(-1 AS BIGINT)
         |       ELSE CAST(round((ln(CAST((SELECT tot FROM tot4) AS DOUBLE))
         |                        - ln(CAST(f.cnt AS DOUBLE))) * 1000000) AS BIGINT)
         |  END AS cost_micro,
         |  (f.cnt IS NOT NULL) AS kept
         |FROM boot b LEFT JOIN boot4 f USING (piece)
         |ORDER BY piece""".stripMargin

  val tok7_vocab_prune = QueryDef.sqlChecked("tok7_vocab_prune", Tok7Sql) { (s, d) =>
    TextAnalysis.unigramVocabPrune(Tables.documents(s, d), BpeMerges, rounds = 3)
      .orderSmall("piece")
  }

  /** sp8b: the token-budget pass denominated in REAL (BPE) tokens —
    * sp8's whitespace counts misstate budgets ~3x on this corpus
    * (84.8k BPE vs 27.2k whitespace tokens at sf0.01); budget 1800
    * against ~4300 BPE tokens per source so every stratum truncates.
    */
  val sp8b_bpe_budget = QueryDef.sqlChecked(
    "sp8b_bpe_budget",
    s"""WITH wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl),
       |seg AS (SELECT doc_id, j, ${bpeSegSql("ws[j]")} AS s FROM tok),
       |nb AS (SELECT doc_id,
       |        CAST(sum(len(string_split(s, e'\\x01\\x01'))) AS BIGINT) AS n_tokens
       |       FROM seg GROUP BY doc_id),
       |base AS (SELECT d.doc_id, d.source,
       |          coalesce(nb.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
       |         FROM documents d LEFT JOIN nb USING (doc_id)),
       |mx AS ${mix32Sql("doc_id")},
       |c AS (SELECT b.doc_id, b.source, b.n_tokens,
       |       CAST(sum(b.n_tokens) OVER (PARTITION BY b.source
       |         ORDER BY mx.hs, b.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |         AS cum_tokens
       |      FROM base b JOIN mx USING (doc_id))
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 1800 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val withBpe = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      .join(TextAnalysis.bpeTokenize(docs, BpeMerges)
        .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
    Sampling.tokenBudgetPerKey(withBpe, budget = 1800L,
        tokenCol = Some("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** pk1b: sequence packing denominated in BPE tokens — same offset
    * packing as pk1, real denominators (a 2048 budget in whitespace
    * tokens would overfill real context windows ~3x here).
    */
  val pk1b_bpe_pack = QueryDef.sqlChecked(
    "pk1b_bpe_pack",
    s"""WITH wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS j, ws FROM wl),
       |seg AS (SELECT doc_id, j, ${bpeSegSql("ws[j]")} AS s FROM tok),
       |nb AS (SELECT doc_id,
       |        CAST(sum(len(string_split(s, e'\\x01\\x01'))) AS BIGINT) AS n_tokens
       |       FROM seg GROUP BY doc_id),
       |mx AS ${mix32Sql("doc_id")},
       |t AS (SELECT d.doc_id, mx.hs % 32 AS shard,
       |       coalesce(nb.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
       |      FROM documents d JOIN mx USING (doc_id) LEFT JOIN nb USING (doc_id)),
       |c AS (SELECT doc_id, shard, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |            AS BIGINT) AS off
       |      FROM t)
       |SELECT doc_id, shard, CAST(off // 2048 AS BIGINT) AS bin, off, n_tokens
       |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val withBpe = docs
      .select(col("doc_id").cast("long").as("doc_id"))
      .join(TextAnalysis.bpeTokenize(docs, BpeMerges)
        .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
    Sampling.packSequences(withBpe, tokenCol = Some("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** pk5: packing efficiency card — per-shard bins and budget
    * utilization over pk1's offset layout; the release-card number
    * that decides whether a budget/shard recipe wastes context slots.
    */
  val pk5_pack_stats = QueryDef.sqlChecked(
    "pk5_pack_stats",
    s"""WITH mx AS ${mix32Sql("doc_id, text")},
       |t AS (SELECT doc_id, hs % 32 AS shard,
       |       CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)
       |         AS n_tokens
       |      FROM mx),
       |c AS (SELECT doc_id, shard, n_tokens,
       |       CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |            AS BIGINT) AS off
       |      FROM t),
       |b AS (SELECT shard, off, n_tokens FROM c)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       | CAST(greatest((max(off + n_tokens) + 2047) // 2048, 1) AS BIGINT)
       |   AS n_bins,
       | round(CAST(sum(n_tokens) AS DOUBLE)
       |   /(greatest((max(off + n_tokens) + 2047) // 2048, 1)*2048), 4)
       |   AS utilization
       |FROM b GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Sampling.packStats(Tables.documents(s, d)).orderBy("shard")
  }

  /** Shared CTE chain for tr1/tr2: label (the round4 quality score vs
    * the 0.5 floor, sp9's q CTE), the hashed incidence frame
    * (bucket = poly32(w, 97) % 1024, x = occurrence fraction — the
    * exact feature map linearQualityScore reads), and TWO unrolled
    * gradient-descent iterations at lr = 0.5 with 6-dp rounding of
    * every mean gradient and weight — the same trajectory the engine's
    * loop walks (iteration 1 is closed-form: w = 0 makes err = -y).
    */
  private val TrainCtes: String =
    s"""wl AS MATERIALIZED (SELECT doc_id,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |q AS (SELECT doc_id, CASE WHEN
       |  round(CAST(len(list_filter(ws, w -> list_contains($StopList, w))) AS DOUBLE)
       |     /len(ws)*0.5 + least(len(ws), 100)/100.0*0.5, 4) >= 0.5
       |  THEN 1.0 ELSE 0.0 END AS y FROM wl),
       |tok AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS w FROM wl),
       |h0 AS (SELECT doc_id, n, ${polySql("w", 97)} AS hv FROM tok),
       |${mixCtes("h0", "hm", keep = Seq("doc_id", "n"), cols = Seq("hv"))},
       |inc AS MATERIALIZED (SELECT doc_id, hv % 1024 AS bucket,
       |        CAST(count(*) AS DOUBLE)/any_value(n) AS x
       |       FROM hm GROUP BY doc_id, hv % 1024),
       |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM inc),
       |g1 AS (SELECT bucket, round(sum(x * (0.0 - q.y)) / (SELECT nd FROM nd), 6)
       |         AS g
       |       FROM inc JOIN q USING (doc_id) GROUP BY bucket),
       |w1 AS (SELECT bucket, round(0.0 - 0.5 * g, 6) AS weight FROM g1),
       |m2 AS (SELECT doc_id, sum(x * weight) AS margin
       |       FROM inc JOIN w1 USING (bucket) GROUP BY doc_id),
       |e2 AS (SELECT m2.doc_id, m2.margin - q.y AS err FROM m2 JOIN q USING (doc_id)),
       |g2 AS (SELECT bucket, round(sum(x * err) / (SELECT nd FROM nd), 6) AS g
       |       FROM inc JOIN e2 USING (doc_id) GROUP BY bucket),
       |w2 AS MATERIALIZED (SELECT w1.bucket, round(w1.weight - 0.5 * g2.g, 6)
       |         AS weight
       |       FROM w1 JOIN g2 USING (bucket))""".stripMargin

  private def trainLabeled(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(TextAnalysis.quality(docs)
        .select(col("doc_id").cast("long").as("doc_id"),
          (col("quality_score") >= 0.5).cast("double").as("label")), "doc_id")
  }

  /** tr1: distributed training of the quality classifier's weight
    * table (linear probe, hashed features, full-batch GD) — the
    * trained-table producer for txt_clf's swap-in. The mirror unrolls
    * both iterations CTE by CTE, so any drift in the feature map, the
    * gradient, the rounding discipline, or the update rule breaks the
    * hash.
    */
  val tr1_train_weights = QueryDef.sqlChecked(
    "tr1_train_weights",
    s"""WITH $TrainCtes
       |SELECT CAST(bucket AS BIGINT) AS bucket, weight
       |FROM w2 WHERE weight <> 0 ORDER BY bucket""".stripMargin) { (s, d) =>
    // batched (Gram-statistics) trainer: trajectory spec-pinned EQUAL to
    // the iterative path, and faster even at 2 iters (measured 0.44 vs
    // 1.35 s at sf0.1 — the per-iter job constants exceed the one-shot
    // Gram pass on this corpus shape)
    TextAnalysis.trainQualityWeightsBatched(trainLabeled(s, d), iters = 2)
      .filter(col("weight") =!= 0.0)
      .orderSmall("bucket")
  }

  /** tr2: train -> swap-in -> score, end to end: the weights from tr1
    * feed linearQualityScore's broadcast-lookup path and score the
    * same corpus. Proves the full loop a production filter runs
    * (train on labels, deploy the table, screen the corpus).
    */
  val tr2_train_and_score = QueryDef.sqlChecked(
    "tr2_train_and_score",
    s"""WITH $TrainCtes,
       |occ AS (SELECT doc_id, hv % 1024 AS bucket FROM hm),
       |ag AS (SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        round(sum(coalesce(w2.weight, 0.0))/count(*), 4) AS margin
       |       FROM occ LEFT JOIN w2 USING (bucket) GROUP BY occ.doc_id)
       |SELECT wl.doc_id, coalesce(ag.n_tokens, 0) AS n_tokens,
       | coalesce(ag.margin, 0.0) AS margin,
       | coalesce(ag.margin, 0.0) > 0.0 AS keep
       |FROM wl LEFT JOIN ag USING (doc_id) ORDER BY wl.doc_id""".stripMargin) {
    (s, d) =>
      val weights = TextAnalysis.trainQualityWeightsBatched(trainLabeled(s, d), iters = 2)
      TextAnalysis.linearQualityScore(Tables.documents(s, d),
          weights = Some(weights))
        .orderBy("doc_id")
  }

  /** cl1: deterministic Lloyd k-means over the embedding corpus — the
    * mirror replays the full trajectory (first-k-ids init, round-6
    * squared-L2 argmin with lower-cid tiebreaks, one round-6 mean
    * update, re-assign) CTE by CTE, so any drift in init order, the
    * distance fold, the rounding discipline, or the empty-cluster rule
    * breaks the hash. Pins the operator defaults (k=8, iters=2).
    */
  /** The Lloyd-trajectory CTE chain (k=8, iters=2, dim=64) shared by
    * cl1/cl2: ends at a2 = (vec_id, cid, d), the final assignment.
    */
  /** The round-6 squared-L2 the Lloyd mirrors fold — shared by
    * cl1/cl2/cl3 so the distance expression cannot drift between the
    * trajectory and its audits.
    */
  private def clD2(v: String, c: String, dim: Int = 64): String =
    s"round(list_sum(list_transform(range($dim), j -> ($v[j+1] - $c[j+1]) * ($v[j+1] - $c[j+1]))), 6)"

  private val Cl1Ctes: String = {
    val K = 8
    def d2(v: String, c: String) = clD2(v, c)
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $K)),
       |a1 AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.v", "c.c")}, c.cid) AS rn
       |  FROM e CROSS JOIN c0 c) WHERE rn = 1),
       |m1 AS (SELECT cid, dim, avg(x) AS m FROM (
       |  SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a1)
       |  GROUP BY cid, dim),
       |c1 AS (SELECT cid, list(round(m, 6) ORDER BY dim) AS c FROM m1 GROUP BY cid),
       |a2 AS (SELECT vec_id, cid, d FROM (
       |  SELECT e.vec_id, c.cid, ${d2("e.v", "c.c")} AS d,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.v", "c.c")}, c.cid) AS rn
       |  FROM e CROSS JOIN c1 c) WHERE rn = 1)""".stripMargin
  }

  private val Cl1Sql: String =
    s"""WITH $Cl1Ctes
       |SELECT vec_id, CAST(cid AS INTEGER) AS cluster, round(d, 4) AS dist
       |FROM a2 ORDER BY vec_id""".stripMargin

  val cl1_kmeans = QueryDef.sqlChecked("cl1_kmeans", Cl1Sql) { (s, d) =>
    Clustering.kmeans(Tables.embeddings(s, d)).orderBy("vec_id")
  }

  /** cl2: cluster-balanced sampling — cl1's assignment flattened to at
    * most 30 vectors per cluster, chosen by mix32 hash order within the
    * cluster (sp2's quota rule on the cluster key). The mirror replays
    * the full Lloyd trajectory and then the avalanche-ordered window,
    * so both the clustering AND the keep decision are hash-pinned.
    */
  private val Cl2Sql: String =
    s"""WITH $Cl1Ctes,
       |mx AS (SELECT vec_id, cid, d, xor(m2, m2 >> 13) AS hs FROM (
       |  SELECT vec_id, cid, d, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
       |    SELECT vec_id, cid, d,
       |      ((vec_id % 4294967296) + 4294967296) % 4294967296 AS h0 FROM a2))),
       |r AS (SELECT vec_id, cid, d,
       |       CAST(row_number() OVER (PARTITION BY cid ORDER BY hs, vec_id)
       |            AS INTEGER) AS rk
       |      FROM mx)
       |SELECT vec_id, CAST(cid AS INTEGER) AS cluster, round(d, 4) AS dist, rk
       |FROM r WHERE rk <= 30 ORDER BY vec_id""".stripMargin

  val cl2_balanced_sample = QueryDef.sqlChecked("cl2_balanced_sample", Cl2Sql) {
    (s, d) =>
      Clustering.clusterBalancedSample(Tables.embeddings(s, d)).orderBy("vec_id")
  }

  /** cl3: cluster-quality audit by second-nearest margin
    * ([[Clustering.silhouetteAudit]], the simplified O(n·k)
    * silhouette) — the mirror replays the full Lloyd trajectory, then
    * ranks each point's distances over the FINAL centroids to recover
    * the second-nearest (rn = 2), and folds the per-point margin
    * `(b − a)/b` as integer micro before the per-cluster integer-mean
    * (`Σ micro // n`, the micro-average rule). Any drift in the
    * trajectory, the distance fold, or the margin emit moves the hash.
    */
  private val Cl3Sql: String =
    s"""WITH $Cl1Ctes,
       |d2nd AS (SELECT vec_id, d AS db FROM (
       |  SELECT e.vec_id, ${clD2("e.v", "c.c")} AS d,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${clD2("e.v", "c.c")}, c.cid) AS rn
       |  FROM e CROSS JOIN c1 c) WHERE rn = 2),
       |p AS (SELECT a2.cid, a2.d AS d1, d2nd.db FROM a2 JOIN d2nd USING (vec_id)),
       |sm AS (SELECT cid,
       |        CASE WHEN db > 0 THEN CAST(round((db - d1) / db * 1000000) AS BIGINT)
       |             ELSE CAST(0 AS BIGINT) END AS mic FROM p)
       |SELECT CAST(cid AS INTEGER) AS cluster, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(mic) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sil_micro
       |FROM sm GROUP BY cid ORDER BY cluster""".stripMargin

  val cl3_silhouette = QueryDef.sqlChecked("cl3_silhouette", Cl3Sql) { (s, d) =>
    Clustering.silhouetteAudit(Tables.embeddings(s, d)).orderSmall("cluster")
  }

  /** cl4: DBSCAN over the embedding cosine graph
    * ([[Clustering.dbscan]], simThreshold 0.35 / minPts 3 — parameters
    * probed so core, border AND noise are all non-empty at every SF).
    * The mirror replays neighbors (strict > on the same
    * list_cosine_similarity both engines already hash-agree on in
    * dd5), the degree rule, core–core connected components as a
    * RECURSIVE reach with min-label (the dd8 convention; isolated
    * cores coalesce to their own id), min-label border assignment,
    * and cluster −1 noise.
    */
  /** The DBSCAN mirror tail (degree rule, recursive core CC, border,
    * noise) over whatever pair-CTE prelude is spliced in: `pairCtes`
    * must define `e(vec_id, v)` and the SYMMETRIC neighbor CTE
    * `p(va, vb)`. Shared by cl4_dbscan (brute prelude) and
    * cl4_dbscan_lsh (the dd5b banded prelude), so the two variants'
    * DBSCAN semantics cannot drift.
    */
  private def cl4SqlWith(pairCtes: String): String =
    s"""WITH RECURSIVE $pairCtes,
       |nc AS MATERIALIZED (SELECT va AS vec_id, CAST(count(*) AS BIGINT) AS n_neighbors
       |  FROM p GROUP BY 1),
       |core AS MATERIALIZED (SELECT vec_id FROM nc WHERE n_neighbors >= 3),
       |cce AS MATERIALIZED (SELECT p.va AS a, p.vb AS b FROM p
       |  WHERE p.va IN (SELECT vec_id FROM core)
       |    AND p.vb IN (SELECT vec_id FROM core)),
       |reach AS (
       |  SELECT a AS id, a AS lbl FROM cce
       |  UNION
       |  SELECT e2.b AS id, r.lbl FROM reach r JOIN cce e2 ON e2.a = r.id
       |),
       |cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
       |corecl AS MATERIALIZED (SELECT c.vec_id,
       |    coalesce(cl.cluster, c.vec_id) AS cluster
       |  FROM core c LEFT JOIN cl ON cl.id = c.vec_id),
       |border AS (SELECT p.va AS vec_id, min(cc.cluster) AS cluster
       |  FROM p JOIN corecl cc ON cc.vec_id = p.vb
       |  WHERE p.va NOT IN (SELECT vec_id FROM core) GROUP BY 1)
       |SELECT e.vec_id,
       | CAST(coalesce(nc.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       | CASE WHEN cc.vec_id IS NOT NULL THEN 'core'
       |      WHEN b.vec_id IS NOT NULL THEN 'border'
       |      ELSE 'noise' END AS role,
       | CAST(coalesce(cc.cluster, b.cluster, -1) AS BIGINT) AS cluster
       |FROM e LEFT JOIN nc USING (vec_id)
       |LEFT JOIN corecl cc USING (vec_id)
       |LEFT JOIN border b USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  private val Cl4Sql: String = cl4SqlWith(
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |p AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) > 0.35)""".stripMargin)

  val cl4_dbscan = QueryDef.sqlChecked("cl4_dbscan", Cl4Sql) { (s, d) =>
    Clustering.dbscan(Tables.embeddings(s, d)).orderBy("vec_id")
  }

  /** cl4b: DBSCAN over the PRODUCTION evidence graph — the banded
    * sign-LSH pair generation ([[Similarity.lshNearDupPairs]] at the
    * dbscan sim threshold) injected through [[Clustering.dbscan]]'s
    * `pairs` contract, replacing cl4's brute O(n²) oracle baseline
    * with the shape that actually ships at corpus scale: pair cost is
    * the banded bucket join, everything downstream is sized by the
    * near-dup graph. The mirror splices the dd5b LSH CTE chain (same
    * fixed-seed hyperplanes, byte banding, bucket cap, exact cosine
    * verify) into the SAME DBSCAN tail, symmetrized exactly like the
    * engine's unionByName — both engines see the identical (possibly
    * sub-recall) pair graph, so the oracle pins the production path,
    * not just the baseline.
    */
  private val Cl4LshSql: String = cl4SqlWith(
    s"""$EmbeddingLshCtes,
       |lp AS (SELECT va, vb FROM sc WHERE s > 0.35),
       |p AS MATERIALIZED (SELECT va, vb FROM lp
       |  UNION ALL SELECT vb AS va, va AS vb FROM lp)""".stripMargin)

  val cl4_dbscan_lsh = QueryDef.sqlChecked("cl4_dbscan_lsh", Cl4LshSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Clustering.dbscan(emb,
        pairs = Some(Similarity.lshNearDupPairs(emb, threshold = 0.35)))
      .orderBy("vec_id")
  }

  /** ds1: DSIR importance resampling (Xie et al. 2023, deterministic
    * top-N variant) with lang='en' as the target domain — the mirror
    * rebuilds the hashed incidence frame (tr1's exact feature map),
    * both smoothed unigram models, the round-6 log-ratio table and the
    * round-4 doc scores, then takes the same score-desc/id top-200.
    */
  private val Ds1Sql: String =
    s"""WITH wl AS (SELECT doc_id, lang = 'en' AS tgt,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, tgt, unnest(ws) AS w FROM wl),
       |h0 AS (SELECT doc_id, tgt, ${polySql("w", 97)} AS hv FROM tok),
       |${mixCtes("h0", "hm", keep = Seq("doc_id", "tgt"), cols = Seq("hv"))},
       |inc AS MATERIALIZED (SELECT doc_id, tgt, hv % 1024 AS bucket,
       |        CAST(count(*) AS BIGINT) AS k
       |       FROM hm GROUP BY doc_id, tgt, hv % 1024),
       |st AS (SELECT bucket,
       |        CAST(sum(CASE WHEN tgt THEN k ELSE 0 END) AS BIGINT) AS nt,
       |        CAST(sum(k) AS BIGINT) AS nq
       |       FROM inc GROUP BY bucket),
       |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt, CAST(sum(nq) AS BIGINT) AS tq FROM st),
       |lam AS (SELECT bucket,
       |         round(ln((nt + 1.0) / (tt + 1.0 * 1024))
       |             - ln((nq + 1.0) / (tq + 1.0 * 1024)), 6) AS lambda
       |        FROM st, tot),
       |sc AS (SELECT doc_id, round(round(sum(k * lambda), 6), 4) AS score
       |       FROM inc JOIN lam USING (bucket) GROUP BY doc_id),
       |top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 200)
       |SELECT doc_id, score FROM top ORDER BY doc_id""".stripMargin

  // orderSmall is legal here (unlike gr2/dc3): importanceResample ends
  // in a TakeOrderedAndProject bounded at topN=200 rows independent of
  // corpus size (PlanSpec pins the TakeOrdered), so the coalesce(1)
  // sorts ≤200 rows behind that bound.
  val ds1_dsir = QueryDef.sqlChecked("ds1_dsir", Ds1Sql) { (s, d) =>
    Dsir.importanceResample(Tables.documents(s, d), isTarget = col("lang") === "en")
      .orderSmall("doc_id")
  }

  /** dc4: semantic decontamination — 40 organic vectors are re-keyed
    * (+10000) as the "eval set" in BOTH engines, so each has an exact
    * corpus twin at cosine 1.0 (the deterministic branch) while organic
    * cross matches above 0.45 exercise the argmax/tiebreak; threshold
    * passed explicitly (0.45, the dd5 band) because the fixture
    * embeddings are not unit-normalized paraphrase pairs.
    */
  /** The dc4 embedding-screen CTE chain (eval = vec_id<40 re-keyed
    * +10000, threshold 0.45), ending at r — shared by dc4 and dc5.
    */
  private val Dc4Ctes: String =
    """c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |ev AS (SELECT vec_id + 10000 AS eid, CAST(embedding AS DOUBLE[]) AS y
      |       FROM embeddings WHERE vec_id < 40),
      |sc AS (SELECT c.vec_id, ev.eid, list_cosine_similarity(x, y) AS s
      |       FROM c CROSS JOIN ev),
      |f AS (SELECT vec_id, eid, s FROM sc WHERE s > 0.45),
      |r AS (SELECT vec_id, eid, s,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, eid) AS rn
      |      FROM f)""".stripMargin

  private val Dc4Sql: String =
    s"""WITH $Dc4Ctes
      |SELECT vec_id, CAST(eid AS BIGINT) AS eval_id, round(s, 4) AS sim
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  val dc4_semantic = QueryDef.sqlChecked("dc4_semantic", Dc4Sql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val ev = emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    Decontamination.semanticDecontaminate(emb, ev, threshold = 0.45)
      .orderBy("vec_id")
  }

  /** dc5: defense-in-depth contamination verdict — dc2's lexical
    * screen (ratio >= 0.01, live organically) full-outer-merged with
    * dc4's semantic screen; at gate SF both single-signal branches AND
    * the two-signal intersection are populated.
    */
  private val Dc5Sql: String =
    s"""WITH $OverlapCtes,
       |lx AS (SELECT doc_id, round(n_hits*1.0/n_shingles, 4) AS overlap_ratio
       |       FROM hits JOIN sz USING (doc_id)
       |       WHERE round(n_hits*1.0/n_shingles, 4) >= 0.01),
       |$Dc4Ctes,
       |sm AS (SELECT vec_id AS doc_id, round(s, 4) AS sim FROM r WHERE rn = 1)
       |SELECT coalesce(lx.doc_id, sm.doc_id) AS doc_id,
       | lx.doc_id IS NOT NULL AS lexical,
       | sm.doc_id IS NOT NULL AS semantic,
       | coalesce(lx.overlap_ratio, 0.0) AS overlap_ratio,
       | coalesce(sm.sim, 0.0) AS sim,
       | CAST(CASE WHEN lx.doc_id IS NOT NULL THEN 1 ELSE 0 END
       |    + CASE WHEN sm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
       |   AS n_signals
       |FROM lx FULL OUTER JOIN sm ON lx.doc_id = sm.doc_id
       |ORDER BY doc_id""".stripMargin

  val dc5_combined_verdict = QueryDef.sqlChecked("dc5_combined_verdict", Dc5Sql) {
    (s, d) =>
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      Decontamination.combinedVerdict(
        train = docs.filter(pmod(col("doc_id"), lit(100)) >= 3),
        evalDocs = docs.filter(pmod(col("doc_id"), lit(100)) < 3),
        corpusEmb = emb,
        evalEmb = emb.filter(col("vec_id") < 40)
          .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")),
        ratioThreshold = 0.01,
        simThreshold = 0.45)
        .orderBy("doc_id")
  }

  /** rl4: split-leakage audit ([[TrainingPipeline.splitLeakage]]) —
    * content digests straddling train/val/test in a released layout.
    * The fixture plants duplicate TEXT under shifted ids (every 40th
    * doc re-released as id+10000, the dd10/dc7 in-query union pattern)
    * so the id-hash split assigns some copies to a different split
    * than their original: at every SF both branches are live (cross-
    * split leaks reported, same-split duplicates filtered — 3/10 at
    * 500 docs, 19/106 at 5000, verified against the mix32 replica).
    */
  val rl4_split_leakage = QueryDef.sqlChecked(
    "rl4_split_leakage",
    """WITH rel AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents
      |  WHERE doc_id % 40 = 0),
      |mx AS (SELECT doc_id, text, xor(m2, m2 >> 13) AS hs FROM (
      |  SELECT doc_id, text, (xor(h0, h0 >> 16) * 40503) % 4294967296 AS m2 FROM (
      |    SELECT doc_id, text,
      |      ((doc_id % 4294967296) + 4294967296) % 4294967296 AS h0 FROM rel))),
      |sp AS (SELECT doc_id, md5(text) AS digest,
      |        CASE WHEN hs % 100 < 90 THEN 'train'
      |             WHEN hs % 100 < 95 THEN 'val' ELSE 'test' END AS split
      |       FROM mx),
      |ag AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(count(DISTINCT split) AS INTEGER) AS n_splits,
      |        array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
      |        CAST(min(doc_id) AS BIGINT) AS first_doc
      |       FROM sp GROUP BY digest)
      |SELECT digest, n_docs, n_splits, splits, first_doc
      |FROM ag WHERE n_splits > 1 ORDER BY digest""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val rel = docs.unionByName(
      docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + lit(10000L)).as("doc_id"), col("text")))
      .withColumn("split", Sampling.splitLabel(col("doc_id")))
    graft.operators.TrainingPipeline.splitLeakage(rel).orderBy("digest")
  }

  /** rl5: signal-correlation audit — Pearson correlations between the
    * cheap curation signals; both engines' corr is the sample Pearson
    * coefficient and round-4 absorbs accumulation-order drift.
    */
  val rl5_signal_corr = QueryDef.sqlChecked(
    "rl5_signal_corr",
    s"""WITH wl AS (SELECT doc_id, n_chars,
       |  list_filter(string_split(text,' '), x -> x <> '') AS ws,
       |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe
       | FROM documents),
       |m AS (SELECT CAST(len(ws) AS DOUBLE) AS t, CAST(bpe AS DOUBLE) AS b,
       |       CAST(n_chars AS DOUBLE) AS c,
       |       CASE WHEN len(ws) > 0 THEN
       |         round(CAST(len(list_filter(ws, w -> list_contains($StopList, w)))
       |             AS DOUBLE)/len(ws)*0.5 + least(len(ws), 100)/100.0*0.5, 4)
       |       ELSE 0.0 END AS q
       |      FROM wl)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       | round(corr(t, b), 4) AS corr_ws_bpe,
       | round(corr(t, c), 4) AS corr_ws_chars,
       | round(corr(q, t), 4) AS corr_quality_ws
       |FROM m""".stripMargin) { (s, d) =>
    TextAnalysis.signalCorrelations(Tables.documents(s, d))
  }

  /** Template-spam detection over the corpus plus 30 planted invoice
    * instances (same template, different numeric fills) — the planted
    * group is the only one crossing `minGroup`, so the verdict branch
    * is live at oracle level.
    */
  val dd17_template_spam = QueryDef.sqlChecked(
    "dd17_template_spam",
    """WITH fixture AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 5000 + i AS doc_id,
      |    'invoice ' || CAST(1000 + i * 37 AS VARCHAR) || ' total ' ||
      |    CAST(i * 13 AS VARCHAR) || ' due day ' || CAST(i % 28 AS VARCHAR) AS text
      |  FROM range(30) t(i)),
      |s AS (SELECT doc_id, md5(regexp_replace(lower(text), '[0-9]+', '0', 'g')) AS shape_md5
      |      FROM fixture),
      |g AS (SELECT *, CAST(count(*) OVER (PARTITION BY shape_md5) AS BIGINT) AS group_size
      |      FROM s)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, shape_md5, group_size,
      | group_size >= 5 AS is_template
      |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val planted = s.range(30).select((col("id") + 5000L).as("doc_id"),
      concat(lit("invoice "), (col("id") * 37 + 1000L).cast("string"),
        lit(" total "), (col("id") * 13).cast("string"),
        lit(" due day "), (col("id") % 28).cast("string")).as("text"))
    Dedup.templateSpam(base.unionByName(planted)).orderBy("doc_id")
  }

  private val Emb1K = 8

  /** The mirror regenerates the same ±1/0 Achlioptas matrix
    * arithmetically and folds each vector in list order, so the
    * doubles match bit-for-bit before the round-6 edge.
    */
  private val Emb1Sql: String = {
    val cols = (0 until Emb1K).map { j =>
      s""" round(list_sum(list_transform(embedding, (x, i) ->
         |   CAST(x AS DOUBLE) *
         |   ((((i - 1) * 1315423911 + $j * 2654435761) % 1000003) % 3 - 1))), 6) AS p$j""".stripMargin
    }.mkString(",\n")
    s"""SELECT vec_id,
       |$cols
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Johnson–Lindenstrauss sparse random projection 64 -> 8 dims —
    * deterministic, matrix-free, one narrow codegen'd pass
    * ([[Similarity.randomProjection]]).
    */
  val emb1_random_projection = QueryDef.sqlChecked(
    "emb1_random_projection", Emb1Sql) { (s, d) =>
    Similarity.randomProjection(Tables.embeddings(s, d), Emb1K)
      .orderBy("vec_id")
  }

  private val FsRun: String = Seq.fill(30)("fsrun").mkString(" ")

  /** Mirror generated from the SAME stopword and language-profile
    * tables the operator uses (the LangIdSql convention). The fixture
    * plants three rule-violating populations so every flag column has
    * both branches live: %13 docs get a 30-token repeat run (rep + a
    * slight entropy dent), 10 novel-token docs trip lang='und' and the
    * quality floor, 5 single-token docs trip the entropy floor.
    */
  private val FilterStackSql: String = {
    val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val scores = TextAnalysis.LangProfiles.map { case (l, st) =>
      val lst = st.map(w => s"'$w'").mkString("[", ",", "]")
      s"""CASE WHEN len(ws)=0 THEN 0.0
         | ELSE round(len(list_filter(ws, w -> list_contains($lst, w)))*1.0/len(ws), 4)
         | END AS score_$l""".stripMargin
    }.mkString(",\n ")
    val names = TextAnalysis.LangProfiles.map(p => s"score_${p._1}")
    val pred = TextAnalysis.LangProfiles
      .map { case (l, _) => s"WHEN score_$l = best THEN '$l'" }.mkString(" ")
    s"""WITH fixture AS (
       |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' $FsRun' ELSE text END AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT 6000 + i AS doc_id,
       |    array_to_string(list_transform(range(20),
       |      j -> 'qx' || CAST(i AS VARCHAR) || 't' || CAST(j AS VARCHAR)), ' ') AS text
       |  FROM range(10) t(i)
       |  UNION ALL
       |  SELECT 6100 + i AS doc_id,
       |    array_to_string(list_transform(range(20), j -> 'aaa'), ' ') AS text
       |  FROM range(5) t(i)),
       |wl AS MATERIALIZED (SELECT doc_id, text,
       |      list_filter(string_split(text,' '), x -> x <> '') AS ws FROM fixture),
       |q AS (SELECT doc_id, CASE WHEN len(ws)=0 THEN 0.0 ELSE
       |       round(len(list_filter(ws, w -> list_contains($stops, w)))*1.0/len(ws)*0.5
       |         + least(len(ws),100)/100.0*0.5, 4) END AS quality_score FROM wl),
       |g AS (SELECT doc_id, list_transform(range(greatest(len(ws)-2,0)),
       |       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS grams FROM wl),
       |rp AS (SELECT doc_id, CASE WHEN len(grams) > 0
       |        THEN round(1.0 - len(list_distinct(grams))*1.0/len(grams), 4)
       |        ELSE 0.0 END AS rep_ratio FROM g),
       |ch AS (SELECT doc_id, unnest(string_split(text,'')) AS c FROM wl),
       |cf AS (SELECT doc_id, c, count(*) AS f FROM ch GROUP BY doc_id, c),
       |cl AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS L FROM cf GROUP BY doc_id),
       |en AS (SELECT cf.doc_id,
       |        round(-sum((CAST(f AS DOUBLE)/L) * ln(CAST(f AS DOUBLE)/L)/ln(2)), 4)
       |          AS entropy_bits
       |       FROM cf JOIN cl USING (doc_id) GROUP BY cf.doc_id),
       |ls AS (SELECT doc_id, $scores FROM wl),
       |lm AS (SELECT *, greatest(${names.mkString(", ")}) AS best FROM ls),
       |lp AS (SELECT doc_id, CASE WHEN best <= 0 THEN 'und' $pred END AS predicted_lang
       |       FROM lm),
       |m AS (SELECT q.doc_id, quality_score, rep_ratio,
       |       coalesce(entropy_bits, 0.0) AS entropy_bits, predicted_lang
       |      FROM q JOIN rp USING (doc_id) LEFT JOIN en USING (doc_id)
       |           JOIN lp USING (doc_id))
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, quality_score, rep_ratio,
       | entropy_bits, predicted_lang,
       | quality_score >= 0.15 AS keep_quality,
       | rep_ratio <= 0.05 AS keep_repetition,
       | entropy_bits >= 3.5 AS keep_entropy,
       | predicted_lang <> 'und' AS keep_lang,
       | (quality_score >= 0.15 AND rep_ratio <= 0.05 AND entropy_bits >= 3.5
       |  AND predicted_lang <> 'und') AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Fused FineWeb-style filter stack with per-rule attribution
    * ([[TextAnalysis.filterStack]]): corpus scanned ONCE for all four
    * signals.
    */
  val txt_filter_stack = QueryDef.sqlChecked(
    "txt_filter_stack", FilterStackSql) { (s, d) =>
    import s.implicits._
    val base = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" " + FsRun))).otherwise(col("text")).as("text"))
    val novel = (0 until 10)
      .map(i => (6000L + i, (0 until 20).map(j => s"qx${i}t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val flat = (0 until 5)
      .map(i => (6100L + i, Seq.fill(20)("aaa").mkString(" ")))
      .toDF("doc_id", "text")
    TextAnalysis.filterStack(base.unionByName(novel).unionByName(flat))
      .orderBy("doc_id")
  }

  /** pipe3 mirror: the filter-stack, ppl-bucket, template-shape and
    * topic chains over ONE shared word-list CTE, joined per doc, then
    * the per-source rollup + modal-topic argmax. Signal fragments are
    * generated from the same engine tables as their standalone
    * queries, so a drift in any component breaks BOTH hashes.
    */
  private val Pipe3Sql: String = {
    val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val scores = TextAnalysis.LangProfiles.map { case (l, st) =>
      val lst = st.map(w => s"'$w'").mkString("[", ",", "]")
      s"""CASE WHEN len(ws)=0 THEN 0.0
         | ELSE round(len(list_filter(ws, w -> list_contains($lst, w)))*1.0/len(ws), 4)
         | END AS score_$l""".stripMargin
    }.mkString(",\n ")
    val names = TextAnalysis.LangProfiles.map(p => s"score_${p._1}")
    val pred = TextAnalysis.LangProfiles
      .map { case (l, _) => s"WHEN score_$l = best THEN '$l'" }.mkString(" ")
    s"""WITH wl AS MATERIALIZED (SELECT doc_id, source, lang, text,
       |      list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |q AS (SELECT doc_id, CASE WHEN len(ws)=0 THEN 0.0 ELSE
       |       round(len(list_filter(ws, w -> list_contains($stops, w)))*1.0/len(ws)*0.5
       |         + least(len(ws),100)/100.0*0.5, 4) END AS quality_score FROM wl),
       |g AS (SELECT doc_id, list_transform(range(greatest(len(ws)-2,0)),
       |       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS grams FROM wl),
       |rp AS (SELECT doc_id, CASE WHEN len(grams) > 0
       |        THEN round(1.0 - len(list_distinct(grams))*1.0/len(grams), 4)
       |        ELSE 0.0 END AS rep_ratio FROM g),
       |ch AS (SELECT doc_id, unnest(string_split(text,'')) AS c FROM wl),
       |cf AS (SELECT doc_id, c, count(*) AS f FROM ch GROUP BY doc_id, c),
       |cl AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS L FROM cf GROUP BY doc_id),
       |en AS (SELECT cf.doc_id,
       |        round(-sum((CAST(f AS DOUBLE)/L) * ln(CAST(f AS DOUBLE)/L)/ln(2)), 4)
       |          AS entropy_bits
       |       FROM cf JOIN cl USING (doc_id) GROUP BY cf.doc_id),
       |ls AS (SELECT doc_id, $scores FROM wl),
       |lm AS (SELECT *, greatest(${names.mkString(", ")}) AS best FROM ls),
       |lpr AS (SELECT doc_id, CASE WHEN best <= 0 THEN 'und' $pred END AS predicted_lang
       |       FROM lm),
       |fs AS (SELECT q.doc_id,
       |        (quality_score >= 0.15 AND rep_ratio <= 0.05
       |         AND coalesce(entropy_bits, 0.0) >= 3.5 AND predicted_lang <> 'und') AS keep
       |       FROM q JOIN rp USING (doc_id) LEFT JOIN en USING (doc_id)
       |            JOIN lpr USING (doc_id)),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
       |dtok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok
       |         GROUP BY doc_id, w),
       |cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS cw FROM dtok GROUP BY w),
       |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
       |        FROM cnt),
       |scp AS (SELECT doc_id, k, k * ln((cw + 1.0) / (n + v)) AS lp2
       |       FROM dtok JOIN cnt USING (w) CROSS JOIN tot),
       |ag AS (SELECT doc_id, -sum(lp2)/sum(k)/ln(2) AS bits FROM scp GROUP BY doc_id),
       |pp AS (SELECT ag.doc_id, w.lang, round(bits, 4) AS bpt
       |      FROM ag JOIN wl w USING (doc_id)),
       |pt AS (SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY bpt, doc_id) AS t
       |      FROM pp),
       |pb AS (SELECT doc_id, CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
       |        ELSE 'tail' END AS bucket FROM pt),
       |shp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[0-9]+', '0', 'g')) AS shape_md5
       |       FROM wl),
       |tg AS (SELECT doc_id, count(*) OVER (PARTITION BY shape_md5) >= 5 AS is_template
       |      FROM shp),
       |th AS (SELECT doc_id,
       | CAST((length(lower(text)) - length(replace(lower(text), 'table', ''))) // 5
       |    + (length(lower(text)) - length(replace(lower(text), 'row', ''))) // 3
       |    + (length(lower(text)) - length(replace(lower(text), 'column', ''))) // 6 AS BIGINT) AS h_storage,
       | CAST((length(lower(text)) - length(replace(lower(text), 'join', ''))) // 4
       |    + (length(lower(text)) - length(replace(lower(text), 'agg', ''))) // 3
       |    + (length(lower(text)) - length(replace(lower(text), 'sort', ''))) // 4 AS BIGINT) AS h_compute,
       | CAST((length(lower(text)) - length(replace(lower(text), 'stream', ''))) // 6
       |    + (length(lower(text)) - length(replace(lower(text), 'batch', ''))) // 5
       |    + (length(lower(text)) - length(replace(lower(text), 'window', ''))) // 6 AS BIGINT) AS h_streaming
       | FROM wl),
       |tpz AS (SELECT doc_id,
       | CASE WHEN h_storage >= 1 AND h_storage >= h_compute AND h_storage >= h_streaming THEN 'storage'
       |      WHEN h_compute >= 1 AND h_compute > h_storage AND h_compute >= h_streaming THEN 'compute'
       |      WHEN h_streaming >= 1 AND h_streaming > h_storage AND h_streaming > h_compute THEN 'streaming'
       |      ELSE 'other' END AS topic FROM th),
       |j AS (SELECT w.doc_id, w.source, fs.keep, pb.bucket, tg.is_template, tpz.topic
       |      FROM wl w JOIN fs USING (doc_id) JOIN pb USING (doc_id)
       |           JOIN tg USING (doc_id) JOIN tpz USING (doc_id)),
       |agg AS (SELECT source, count(*) AS n_docs,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |         CAST(sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
       |         CAST(sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
       |         CAST(sum(CASE WHEN is_template THEN 1 ELSE 0 END) AS BIGINT) AS n_template
       |        FROM j GROUP BY source),
       |tc AS (SELECT source, topic, count(*) AS c FROM j GROUP BY source, topic),
       |tm AS (SELECT source, topic AS top_topic,
       |        row_number() OVER (PARTITION BY source ORDER BY c DESC, topic) AS rn
       |       FROM tc)
       |SELECT a.source, n_docs, n_keep, n_head, n_tail, n_template, tm.top_topic
       |FROM agg a JOIN tm ON tm.source = a.source AND tm.rn = 1
       |ORDER BY a.source""".stripMargin
  }

  /** Per-source curation scorecard composing the round's signal
    * operators ([[graft.operators.TrainingPipeline.curationReport]]).
    */
  val pipe3_curation_report = QueryDef.sqlChecked(
    "pipe3_curation_report", Pipe3Sql) { (s, d) =>
    graft.operators.TrainingPipeline.curationReport(Tables.documents(s, d))
      .orderSmall("source")
  }

  /** Matryoshka prefix-mass audit at k=16; the 0.25 threshold sits at
    * the uniform-vector expectation (16/64) so both verdict branches
    * are live on the synthetic embeddings.
    */
  val emb3_matryoshka_audit = QueryDef.sqlChecked(
    "emb3_matryoshka_audit",
    """WITH m AS (SELECT label,
      |  round(list_sum(list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
      |    / list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), 4) AS mass
      |  FROM embeddings)
      |SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vecs,
      | CAST(sum(CASE WHEN mass >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_concentrated,
      | min(mass) AS min_mass, max(mass) AS max_mass
      |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    Similarity.matryoshkaAudit(Tables.embeddings(s, d), k = 16, minMass = 0.25)
      .orderSmall("label")
  }

  /** CCNet head/middle/tail perplexity buckets per language — the
    * txt_ppl chain + per-lang exact terciles (ntile ties on doc_id).
    * [[TextAnalysis.pplBucketsApprox]] is the sketch-threshold scale
    * twin (spec-banded, same convention as rl3).
    */
  val txt_ppl3_buckets = QueryDef.sqlChecked(
    "txt_ppl3_buckets",
    """WITH wl AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM wl),
      |dtok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok
      |         GROUP BY doc_id, w),
      |cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dtok GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      |        FROM cnt),
      |sc AS (SELECT doc_id, k, k * ln((c + 1.0) / (n + v)) AS lp
      |       FROM dtok JOIN cnt USING (w) CROSS JOIN tot),
      |ag AS (SELECT doc_id, sum(k) AS n_tokens, -sum(lp)/sum(k)/ln(2) AS bits
      |       FROM sc GROUP BY doc_id),
      |p AS (SELECT ag.doc_id, d.lang, round(bits, 4) AS bits_per_token
      |      FROM ag JOIN documents d ON d.doc_id = ag.doc_id),
      |t AS (SELECT *, ntile(3) OVER (PARTITION BY lang
      |        ORDER BY bits_per_token, doc_id) AS t FROM p)
      |SELECT doc_id, lang, bits_per_token,
      | CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.pplBuckets(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Keyword-taxonomy topic routing — argmax of substring-count hits
    * with first-declared-wins ties, `other` below one hit.
    */
  val txt_topics = QueryDef.sqlChecked(
    "txt_topics",
    """WITH h AS (SELECT doc_id,
      | CAST((length(lower(text)) - length(replace(lower(text), 'table', ''))) // 5
      |    + (length(lower(text)) - length(replace(lower(text), 'row', ''))) // 3
      |    + (length(lower(text)) - length(replace(lower(text), 'column', ''))) // 6 AS BIGINT) AS h_storage,
      | CAST((length(lower(text)) - length(replace(lower(text), 'join', ''))) // 4
      |    + (length(lower(text)) - length(replace(lower(text), 'agg', ''))) // 3
      |    + (length(lower(text)) - length(replace(lower(text), 'sort', ''))) // 4 AS BIGINT) AS h_compute,
      | CAST((length(lower(text)) - length(replace(lower(text), 'stream', ''))) // 6
      |    + (length(lower(text)) - length(replace(lower(text), 'batch', ''))) // 5
      |    + (length(lower(text)) - length(replace(lower(text), 'window', ''))) // 6 AS BIGINT) AS h_streaming
      | FROM documents)
      |SELECT doc_id, h_storage, h_compute, h_streaming,
      | CASE WHEN h_storage >= 1 AND h_storage >= h_compute AND h_storage >= h_streaming THEN 'storage'
      |      WHEN h_compute >= 1 AND h_compute > h_storage AND h_compute >= h_streaming THEN 'compute'
      |      WHEN h_streaming >= 1 AND h_streaming > h_storage AND h_streaming > h_compute THEN 'streaming'
      |      ELSE 'other' END AS topic
      |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.topicTag(Tables.documents(s, d)).orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(
    dd1_exact_dedup, dd2_minhash_lsh, dd3_ngram_jaccard, dd4_simhash,
    dd4b_simhash_wide,
    dd5_embedding_neardup, dd5b_embedding_lsh, dd5c_embedding_lsh_wide,
    dd6_winnow_fragments,
    dd2_capped_minhash, dd3_capped_jaccard, dd7_bloom_dedup,
    dd8_dup_clusters, dd9_paragraph_dedup, dd10_semantic_dedup,
    dd15_incremental_neardup, dd16_containment, dd17_template_spam,
    dd18_minhash_calibration, emb1_random_projection,
    ann_brute_topk, ann_brute_l2, ann_lsh_topk, ann_ivf_topk, ann_pq_topk,
    ann_ivfpq_topk, ann_pq_incremental, ann_pq_residual, ann_label_noise,
    emb2_ann_recall, emb3_matryoshka_audit, emb4_pq_recall,
    emb5_pq_residual_recall, emb6_hard_negatives,
    ann_sq8, ann_sq8_incremental, emb7_sq_recall, ann_ivfsq, emb8_ivfsq_recall,
    txt_quality, txt_tokens, txt_fingerprint, txt_langid, txt_tfidf,
    ir1_bm25_topk, ir2_rrf_fusion, ir3_bm25_incremental, ir4_query_likelihood,
    txt_repetition, txt_vocab, txt_bigrams, txt_redact, txt_normalize,
    txt_c4_filter, txt_gopher,
    dc1_decontaminate, dc2_overlap_with, dc3_eval_leak_report,
    dc5_combined_verdict, dc6_mink_prob, dc7_canary_scan, dc8_exact_substring,
    dc9_fuzzy_decontam,
    sp1_hash_split, sp2_quota_sample, sp3_weighted_downsample,
    sp4_stratified_sample, sp5_domain_mixture, sp6_temperature_sample,
    sp7_sample_n, sp10_epoch_upsample, sp11_mixture_audit,
    rl1_release_diff, rf1_corpus_refresh, rf1b_refresh_prepared,
    txt_domains, txt_encoding,
    dd11_url_dedup, sp8_token_budget,
    dd12_span_dedup, dd8c_canonical, txt_ppl, txt_ppl1b, txt_ppl2,
    txt_ppl4_kn, txt_clf,
    rl2_corpus_card, rl3_length_quantiles, rl4_split_leakage, rl5_signal_corr,
    sp9_curriculum,
    dd12b_span_drop, txt_entropy, txt_ppl3_buckets, txt_topics,
    txt_filter_stack,
    dd14_consensus_neardup, pipe2_screen_and_phase,
    pk1_pack_sequences, pk2_chunk_docs, pk3_pack_whole_docs,
    pk4_fim_transform, pk5_pack_stats,
    tok1_bpe_tokenize, tok2_fertility, tok3_maxmatch, tok4_unigram,
    tok5_unigram_em1,
    tok6_unigram_em,
    tok7_vocab_prune,
    sp8b_bpe_budget,
    pk1b_bpe_pack,
    tr1_train_weights, tr2_train_and_score,
    cl1_kmeans, cl2_balanced_sample, cl3_silhouette, cl4_dbscan,
    cl4_dbscan_lsh, ds1_dsir, dc4_semantic,
    pipe1_training_pipeline, pipe3_curation_report,
    mm_features, mm_frames, mm_resize, mm_decode, mm_audio, mm_dhash_pairs,
    mm_dhash_incremental, mm_phash_pairs, mm_phash_incremental,
    mm_video_pairs, mm_audio_pairs)
}
