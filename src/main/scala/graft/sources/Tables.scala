package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * parquet reader, predicate pushdown and column pruning apply. At
  * cluster scale the same call works on a directory of many files /
  * partitions; nothing here assumes a single file.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  /** Schema catalog: parquet footer schemas are immutable table
    * METADATA, memoized per path the way any production catalog (HMS /
    * Iceberg) serves them — `spark.read.parquet` without a schema
    * re-infers from the footer on every call, measured 95 ms vs 7.5 ms
    * with the schema supplied (round 19). Data is still read from
    * parquet on every action; nothing row-shaped is ever cached here.
    *
    * Each path holds ONE entry, (fingerprint, schema), checked on every
    * load: a path regenerated with a different schema in the same JVM
    * (fixture rebuild, testdata refresh) re-infers and replaces its entry
    * instead of serving the stale StructType or adding another. A file
    * fingerprints as its (mtime, length); a multi-file parquet DIRECTORY
    * as its own (mtime, length) plus its newest child's (name, mtime,
    * length), because a part file overwritten in place under the same
    * name changes neither the directory's mtime nor its length. The
    * stats are local filesystem calls, microseconds against the 95 ms
    * they replace.
    */
  private type Fingerprint = ((Long, Long), Option[(String, Long, Long)])
  private[graft] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Option[Fingerprint], StructType)]()

  /** (mtime, length) of `path`, and for a directory its newest child's
    * (name, mtime, length); None when it cannot be read locally (such a
    * path keeps its first schema).
    */
  private def fingerprint(path: String): Option[Fingerprint] = try {
    def stat(f: Path) = (Files.getLastModifiedTime(f).toMillis, Files.size(f))
    val p = Paths.get(path)
    val newest = if (!Files.isDirectory(p)) None else {
      val ls = Files.list(p)
      try ls.iterator().asScala.map { f => val (m, n) = stat(f); (f.getFileName.toString, m, n) }
        .maxByOption { case (name, m, _) => (m, name) }
      finally ls.close()
    }
    Some((stat(p), newest))
  } catch { case scala.util.control.NonFatal(_) => None }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val fp = fingerprint(path)
    val sch = schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else (fp, spark.read.parquet(path).schema))._2
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations (which Spark's vectorized reader rejects,
    * [PARQUET_TYPE_ILLEGAL] — read nanos as long, truncate losslessly to
    * µs) and plain timestamp[us] (TIMESTAMP_NTZ) in others. Normalize
    * either shape to a microsecond TimestampType so every downstream
    * query and oracle mirror sees one schema.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
