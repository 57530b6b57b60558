package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, SqSearch}

class SqSearchSpec extends SparkSpec {

  test("sq8TopK: hand-replayed encode/decode/score on a dim-2 fixture") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.0, 0.0)),
      (1L, Array(1.0, 1.0)),
      (2L, Array(0.5, 0.25)),
      (3L, Array(0.25, 0.75)),
      (4L, Array(0.9, 0.1)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = SqSearch.sq8TopK(df, queryIds = Seq(0L), topK = 4)
      .orderBy("rnk").collect()
    // exact replay of the operator's contract: per-dim min/max over the
    // corpus, half-up uint8 encode, asymmetric decode/fold, one
    // floor(d2*1e6+0.5) per pair
    val mn = Array(0.0, 0.0)
    val mx = Array(1.0, 1.0)
    def dist(q: Array[Double], v: Array[Double]): Long = {
      var s = 0.0
      var j = 0
      while (j < v.length) {
        val code = math.floor((v(j) - mn(j)) / (mx(j) - mn(j)) * 255.0 + 0.5).toInt
        val dec = mn(j) + code * (mx(j) - mn(j)) / 255.0
        val d = q(j) - dec
        s += d * d
        j += 1
      }
      math.floor(s * 1e6 + 0.5).toLong
    }
    val q = vecs.head._2
    val want = vecs.tail.map { case (id, v) => (id, dist(q, v)) }
      .sortBy { case (id, m) => (m, id) }
      .zipWithIndex.map { case ((id, m), i) => (0L, i + 1, id, m) }
    assert(out.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq === want)
  }

  test("sq8TopK: recall@10 vs exact L2 >= 0.9 on the sf corpus; repartition-invariant") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val a = SqSearch.sq8TopK(emb, ids).orderBy("qid", "rnk").collect().toSeq
    val b = SqSearch.sq8TopK(emb.repartition(7), ids)
      .orderBy("qid", "rnk").collect().toSeq
    assert(a === b && a.size === 50)
    val rec = Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, ids), SqSearch.sq8TopK(emb, ids), k = 10)
      .collect()
    // 8 bits per dimension leaves quantization error orders below the
    // inter-point distances — a stats/encode regression shows up as a
    // recall collapse. At this spec SF one query sits a quantization
    // step from a rank-10/11 boundary flip (0.9); the sf0.01 oracle row
    // reads 1.0 across all queries, so the floor here is 0.9.
    assert(rec.forall(_.getDouble(2) >= 0.9), rec.mkString(", "))
  }

  test("ivfSqTopK: results lie in probed cells; recall floor; repartition-invariant") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val a = SqSearch.ivfSqTopK(emb, ids).orderBy("qid", "rnk").collect().toSeq
    val b = SqSearch.ivfSqTopK(emb.repartition(7), ids)
      .orderBy("qid", "rnk").collect().toSeq
    assert(a === b && a.size === 50)
    // pruning contract: every returned vector's coarse cell must be one
    // of its query's nProbe probed cells — recomputed independently here
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    val proj = graft.operators.Dedup.spread(emb.select(
        col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v")))
      .as[(Long, Array[Double])]
    val sample = graft.operators.IvfSearch.collectFitSample(proj, 1, 4096)
    val cs = graft.operators.IvfSearch.fitCentroidsOnSample(sample, 16, 3)
    a.foreach { r =>
      val qid = r.getLong(0); val vid = r.getLong(2)
      val probed = graft.operators.IvfSearch.probeCellsOf(vecs(qid), cs, 4).toSet
      assert(probed.contains(graft.operators.IvfSearch.nearestCell(vecs(vid), cs)),
        s"vec $vid returned for query $qid outside its probed cells")
    }
    // residual SQ leaves quantization error far below inter-point
    // distances, so IVF-SQ recall is bounded by the COARSE pruning
    // (ann_ivf's regime) — a stats/encode regression collapses it
    val rec = Similarity.annRecall(
      Similarity.bruteForceTopKL2(emb, ids), SqSearch.ivfSqTopK(emb, ids), k = 10)
      .collect()
    assert(rec.forall(_.getDouble(2) >= 0.5), rec.mkString(", "))
  }

  test("probeSqCodes: probe of the released index equals the spliced in-query chain; fast == fallback") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val released = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 405)
    val model = SqSearch.fitSqModel(released)
    val codes = SqSearch.encodeSq(released, model)
    val fast = SqSearch.probeSqCodes(batch, model, codes)
      .orderBy("qid", "rnk").collect().toSeq
    assert(fast.size === 50)
    // driver gate at 0 forces the distributed cross-join fallback —
    // same ascending-dim fold per pair, row-identical by contract
    val slow = SqSearch.probeSqCodes(batch, model, codes,
        maxDriverBatchRows = 0)
      .orderBy("qid", "rnk").collect().toSeq
    assert(fast === slow)
  }

  test("writeSqIndex/loadSqIndex: roundtrip probe matches the in-memory index; foreign frames fail fast") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val released = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 405)
    val dir = java.nio.file.Files.createTempDirectory("sq-idx").toString
    graft.operators.TrainingPipeline.writeSqIndex(released, dir)
    val (model, codes) = graft.operators.TrainingPipeline.loadSqIndex(spark, dir)
    val fromDisk = SqSearch.probeSqCodes(batch, model, codes)
      .orderBy("qid", "rnk").collect().toSeq
    val inMem = {
      val m = SqSearch.fitSqModel(released)
      SqSearch.probeSqCodes(batch, m, SqSearch.encodeSq(released, m))
        .orderBy("qid", "rnk").collect().toSeq
    }
    assert(fromDisk === inMem && fromDisk.size === 50)
    // a dim-mismatched model against the stamped codes must fail fast,
    // not silently mis-decode
    val wrong = SqSearch.SqModel(Array(0.0, 0.0), Array(1.0, 1.0))
    val ex = intercept[IllegalArgumentException] {
      SqSearch.probeSqCodes(batch, wrong, codes)
    }
    assert(ex.getMessage.contains("dim"), ex.getMessage)
    // an unstamped parquet must be rejected by the loader path
    import spark.implicits._
    val foreign = Seq((1L, Array(1, 2))).toDF("vec_id", "cd")
    val fdir = java.nio.file.Files.createTempDirectory("sq-foreign")
      .resolve("_graft_models").resolve("sq_codes")
    foreign.write.mode("overwrite").parquet(fdir.toString)
    SqSearch.saveSqModel(model, fdir.getParent.resolve("sq_model.bin"))
    val ex2 = intercept[IllegalArgumentException] {
      graft.operators.TrainingPipeline.loadSqIndex(
        spark, fdir.getParent.getParent.toString)
    }
    assert(ex2.getMessage.toLowerCase.contains("sq_codes"), ex2.getMessage)
  }

  test("probeSqCodes: loaded-index probe rides the parquet scan — no joins, no window, no re-encode") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("sq-gate").toString
    graft.operators.TrainingPipeline.writeSqIndex(
      emb.filter(col("vec_id") < 400), dir)
    val (model, codes) = graft.operators.TrainingPipeline.loadSqIndex(spark, dir)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 405)
    val p = SqSearch.probeSqCodes(batch, model, codes)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("sq_codes"),
      s"probe must scan the persisted codes parquet:\n$p")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "CartesianProduct", "BroadcastNestedLoopJoin", "Window").foreach { n =>
      assert(!p.contains(n), s"broadcast-path probe plan must not contain $n:\n$p")
    }
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
  }

  test("sq8TopK: the ADC scan plans join-free with the bounded top-k (no window)") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = SqSearch.sq8TopK(emb, Seq(0L, 1L))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "CartesianProduct", "BroadcastNestedLoopJoin", "Window").foreach { n =>
      assert(!p.contains(n), s"sq8 scoring plan must not contain $n:\n$p")
    }
    assert(p.contains("posexplode"),
      s"rank recovery must be the bounded-array posexplode:\n$p")
  }

  test("fitSqModel: per-dimension stats follow Spark's min/max on NaN and signed zero") {
    import spark.implicits._
    val nan = Double.NaN
    // NaN seeds dim 0 (first row) and lands mid-stream in dim 1; dim 2
    // mixes -0.0 and 0.0; dim 3 is all NaN
    val df = Seq(
      (0L, Array(nan, 1.0, 0.0, nan)),
      (1L, Array(2.0, 5.0, -0.0, nan)),
      (2L, Array(-1.0, nan, 3.0, nan)),
      (3L, Array(4.0, 2.0, -2.0, nan))).toDF("vec_id", "embedding")
    val spk = df.select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("j").agg(min("x"), max("x")).orderBy("j").collect()
    // Spark's order has NaN on top and -0.0 == 0.0
    def canon(xs: Seq[Double]): Seq[String] =
      xs.map(x => if (x.isNaN) "NaN" else (x + 0.0).toString)
    val wantMn = canon(spk.map(_.getDouble(1)).toSeq)
    val wantMx = canon(spk.map(_.getDouble(2)).toSeq)
    assert(wantMn === Seq("-1.0", "1.0", "-2.0", "NaN"))
    assert(wantMx === Seq("NaN", "NaN", "3.0", "NaN"))
    Seq(df.coalesce(1), df.repartition(3, col("vec_id"))).foreach { in =>
      val m = SqSearch.fitSqModel(in)
      assert(canon(m.mns.toSeq) === wantMn)
      assert(canon(m.mxs.toSeq) === wantMx)
    }
  }
}
