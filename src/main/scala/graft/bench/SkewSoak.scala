package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A planted Zipf(0.99) skew corpus for the hot-key caps of the
  * banded-join family ([[graft.SkewStressSpec]]).
  *
  * Every document draws a TEMPLATE by the Zipf(0.99) inverse-CDF (the
  * YCSB mass shape, continuous approximation
  * r = (1 + u·(K^0.01 − 1))^100 over K = n/5 templates); same-template
  * documents are byte-identical. Identical text is the worst-case hot
  * key for every capped join at once: identical shingle sets →
  * identical minhash signatures → one (band, band_hash) bucket per band
  * holding the whole template; identical 4-gram sets → one
  * doc-frequency key; identical simhash → one byte-band bucket. The
  * head template holds ~n/H(K) ≈ 13% of the corpus.
  */
object SkewSoak {

  /** splitmix64 finalizer: a cheap, well-mixed deterministic hash. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Zipf(0.99) template rank in [1, k] from a uniform hash of the doc
    * id — inverse of the continuous CDF F(r) = (r^(1-s) − 1)/(k^(1-s) − 1)
    * with s = 0.99 (the standard power-law inversion; YCSB's
    * scrambled-zipfian uses the same mass shape with rejection).
    */
  private def zipfRank(id: Long, k: Long): Long = {
    val u = Math.floorMod(mix(id * 1000003L + 7L), 1000000L) / 1000000.0
    val e = 0.01 // 1 - s
    val r = math.pow(1.0 + u * (math.pow(k.toDouble, e) - 1.0), 1.0 / e)
    math.max(1L, math.min(k, r.toLong))
  }

  /** Template body: ~50 hash tokens drawn per TEMPLATE (not per doc),
    * so same-template documents are byte-identical — the worst-case
    * hot key (see object doc). Vocabulary 50k keeps cross-template
    * 3/4-gram collisions negligible, so the planted-pair oracle is
    * exact for the Jaccard families.
    */
  private def templateText(t: Long): String = {
    val len = 40 + Math.floorMod(mix(t * 31L), 20L).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < len) {
      if (j > 0) sb.append(' ')
      sb.append('w').append(Math.floorMod(mix(t * 7919L + j * 131L), 50000L))
      j += 1
    }
    sb.toString
  }

  private[graft] def synthSkewDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val k = math.max(n / 5L, 100L)
    spark.range(n).as[Long]
      .map { id =>
        val t = zipfRank(id, k)
        (id, t, templateText(t))
      }
      .toDF("doc_id", "template", "text")
  }
}
