package perfbench

import java.nio.file.{Files, Paths}

/** Records what the analytics suite returns, for the DuckDB cross-check
  * in `perfbench/crosscheck.py`:
  *
  * {{{
  *   perfbench.Expected <data dir> <dump dir> <scratch dir>
  * }}}
  *
  * writes each query's row count, column names and canonical digest to
  * `<dump dir>/digests.json`, and the DuckDB SQL of the queries that have
  * one to `<dump dir>/oracle_sql.json`.
  */
object Expected {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, tmp) = args
    val spark = Main.spark(Paths.get(tmp))
    try {
      val entries = Analytics.queries.map { q =>
        val df = q.fn(spark, data)
        val rows = df.collect().toSeq
        q.name -> Json.obj(Seq("rows" -> rows.length.toString,
          "columns" -> df.columns.map(Json.str).mkString("[", ",", "]"),
          "digest" -> Json.str(Canon.digestRows(df.columns.toSeq, rows))))
      }
      Files.writeString(Paths.get(dump, "digests.json"), Json.obj(entries) + "\n")
      val sql = Analytics.queries.flatMap(q => q.oracle.map(q.name -> Json.str(_)))
      Files.writeString(Paths.get(dump, "oracle_sql.json"), Json.obj(sql) + "\n")
    } finally spark.stop()
  }
}
