package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Tables
import scala.jdk.CollectionConverters._

/** Source/sink format coverage beyond parquet+memory: csv and json
  * round-trips of engine query results, and the rate streaming source.
  */
class SourcesSinksSpec extends SparkSpec {

  test("csv sink/source round-trip of a query result") {
    val out = Files.createTempDirectory("graft-csv").toString
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.count() === df.count())
    assert(back.columns.sorted === df.columns.sorted)
  }

  test("json sink/source round-trip preserves rows") {
    val out = Files.createTempDirectory("graft-json").toString
    val df = SparkEntry.queries("q10_distinct")(spark, sf)
    df.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() === df.count())
  }

  test("rate source produces monotonically increasing rows") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
      .writeStream.format("memory").queryName("rate_out")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      val vals = spark.table("rate_out").select("value").collect().map(_.getLong(0))
      assert(vals.nonEmpty)
      assert(vals.sorted.sameElements(vals.distinct.sorted)) // unique, ordered domain
    } finally q.stop()
  }

  test("schema memo: a part file overwritten in place re-infers, one entry per path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo")
    val path = dir.resolve("t.parquet")
    def writeOne(df: org.apache.spark.sql.DataFrame, to: java.nio.file.Path) =
      df.coalesce(1).write.mode("overwrite").parquet(to.toString)
    writeOne(Seq((1L, "a")).toDF("id", "s"), path)
    assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq === Seq("id", "s"))
    // same part-file name, new schema, written over the old bytes: the
    // directory's own mtime and length do not change
    val part = path.toFile.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet")).head
    val other = dir.resolve("other.parquet")
    writeOne(Seq((2L, 3.0, true)).toDF("id", "x", "flag"), other)
    val src = other.toFile.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet")).head
    val dirStamp = (Files.getLastModifiedTime(path), Files.size(path))
    // truncate-and-write keeps each inode (its checksum file too), so no
    // directory entry changes
    Files.write(path.resolve(part), Files.readAllBytes(other.resolve(src)))
    Files.write(path.resolve(s".$part.crc"), Files.readAllBytes(other.resolve(s".$src.crc")))
    Files.setLastModifiedTime(path.resolve(part),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert((Files.getLastModifiedTime(path), Files.size(path)) === dirStamp)
    val reloaded = Tables.load(spark, dir.toString, "t")
    assert(reloaded.schema.fieldNames.toSeq === Seq("id", "x", "flag"), "stale schema served")
    assert(reloaded.collect().toSeq.map(_.getLong(0)) === Seq(2L))
    assert(Tables.schemaCache.keySet().asScala.count(_ == path.toString) === 1)
    assert(Tables.schemaCache.keySet().asScala.count(_.startsWith(dir.toString)) === 1,
      "a regenerated path must replace its entry, not add one")
  }
}
