package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextHashing}

class CosineSimilaritySpec extends SparkSpec {

  test("native expression matches the scala kernel and is SQL-callable") {
    import spark.implicits._
    val a = Array(1.0, 2.0, 3.0)
    val b = Array(-1.0, 0.5, 2.0)
    val df = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
    val viaCol = df.select(GraftFunctions.cosine_similarity(col("a"), col("b")))
      .head().getDouble(0)
    assert(math.abs(viaCol - TextHashing.cosine(a, b)) < 1e-12)

    GraftFunctions.register(spark)
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT cosine_similarity(a, b) FROM vecs").head().getDouble(0)
    assert(viaSql === viaCol)
  }

  test("cosine_similarity compiles to a native loop, not an eval fallback") {
    spark.range(3)
      .selectExpr("array(cast(id as double), 1.0d) as a", "array(1.0d, 2.0d) as b")
      .createOrReplaceTempView("codegen_vecs")
    GraftFunctions.register(spark)
    val df = spark.sql("SELECT cosine_similarity(a, b) AS s FROM codegen_vecs")
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains(".getDouble("), gen)
    assert(!gen.contains("CosineSimilarity.nullSafeEval"), gen)
    assert(df.collect().map(_.getDouble(0)).length === 3)
  }

  test("null inputs yield null, wrong types fail analysis") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 0.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    val r = df.select(GraftFunctions.cosine_similarity(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
    val bad = Seq(("x", 1)).toDF("a", "b")
    intercept[Exception] {
      bad.select(GraftFunctions.cosine_similarity(col("a"), col("b"))).collect()
    }
  }

  test("squared_l2: hand-computed values, null/prefix semantics, SQL-callable") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 2.0))).toDF("a", "b")
    val viaCol = df.select(GraftFunctions.squared_l2(col("a"), col("b")))
      .head().getDouble(0)
    assert(viaCol === 4.0 + 2.25 + 1.0) // (2)^2 + (1.5)^2 + (1)^2
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("l2vecs")
    val viaSql = spark.sql("SELECT squared_l2(a, b) FROM l2vecs").head().getDouble(0)
    assert(viaSql === viaCol)
    // mismatched lengths compare the common prefix; nulls propagate
    val pre = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 9.0))).toDF("a", "b")
      .select(GraftFunctions.squared_l2(col("a"), col("b"))).head().getDouble(0)
    assert(pre === 0.0)
    val nl = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
      .select(GraftFunctions.squared_l2(col("a"), col("b"))).head()
    assert(nl.isNullAt(0))
  }

  test("squared_l2 fold matches IvfSearch.sqDist exactly (codegen path, many rows)") {
    import spark.implicits._
    val rows = (0 until 2000).map { i =>
      (Array.tabulate(64)(d => math.sin(i * 64 + d).toDouble),
        Array.tabulate(64)(d => math.cos(i * 64 + d).toDouble))
    }
    val got = rows.toDF("a", "b")
      .select(GraftFunctions.squared_l2(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((a, b), g) =>
      assert(g === graft.operators.IvfSearch.sqDist(a, b)) // bit-equal fold
    }
  }

  test("identical vectors similarity 1, orthogonal 0 (codegen path, many rows)") {
    import spark.implicits._
    val n = 10000
    val df = (0 until n).map { i =>
      (Seq(1.0, 0.0, i.toDouble % 3), Seq(1.0, 0.0, i.toDouble % 3))
    }.toDF("a", "b")
    val sims = df.select(GraftFunctions.cosine_similarity(col("a"), col("b")).as("s"))
      .agg(min("s"), max("s")).head()
    assert(math.abs(sims.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(sims.getDouble(1) - 1.0) < 1e-12)
  }
}
