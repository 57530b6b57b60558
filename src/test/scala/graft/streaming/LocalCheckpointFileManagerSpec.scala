package graft.streaming

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import graft.SparkSpec
import graft.model.TestEntities
import graft.runtime.Client

/** The checkpoint writer's contract with Spark's metadata logs: a file
  * appears whole or not at all, a create never replaces an existing
  * file, a cancelled write leaves nothing, and a file Spark's default
  * manager wrote (with its `.crc`) can be overwritten and read back.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def dir(): NioPath = Files.createTempDirectory("graft-ckfm")
  private def manager(d: NioPath): CheckpointFileManager = new LocalCheckpointFileManager(new Path(d.toUri), conf)
  private def names(d: NioPath): Set[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(m: CheckpointFileManager, p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = m.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def bytes(s: String) = s.getBytes("UTF-8")

  test("a written and closed file reads back byte-equal, and only it is left") {
    val d = dir()
    val m = manager(d)
    val p = new Path(d.resolve("0").toUri)
    val body = bytes("v1\n{\"batchWatermarkMs\":0}\n" + "x" * 300)
    write(m, p, body, overwrite = false)
    assert(read(m, p) === body)
    assert(Files.readAllBytes(d.resolve("0")) === body)
    assert(names(d) === Set("0"), "no temp or checksum file is left")
  }

  test("a create over an existing file throws Hadoop's FileAlreadyExistsException and changes nothing") {
    val d = dir()
    val m = manager(d)
    val p = new Path(d.resolve("7").toUri)
    write(m, p, bytes("first"), overwrite = false)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write(bytes("second writer"))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next; a no-op here
    assert(read(m, p) === bytes("first"))
    assert(names(d) === Set("7"), "the temp file must not be left behind")
  }

  test("cancel() leaves no file") {
    val d = dir()
    val m = manager(d)
    val out = m.createAtomic(new Path(d.resolve("3").toUri), overwriteIfPossible = true)
    out.write(bytes("never published"))
    out.cancel()
    out.close() // after cancel: publishes nothing
    assert(names(d).isEmpty)
  }

  test("an overwrite of a file Spark's default manager wrote reads back without a checksum error") {
    val d = dir()
    val p = new Path(d.resolve("5").toUri)
    val default = new FileContextBasedCheckpointFileManager(new Path(d.toUri), conf)
    write(default, p, bytes("written by Hadoop's local filesystem, checksummed"), overwrite = false)
    assert(names(d).contains(".5.crc"), "the default manager leaves a checksum file")
    val m = manager(d)
    write(m, p, bytes("shorter"), overwrite = true)
    assert(read(m, p) === bytes("shorter"))
    assert(read(default, p) === bytes("shorter"))
    // Hadoop's FileSystem verifies a `.crc` on read (FileContext does not):
    // a stale one would raise ChecksumException here
    val in = p.getFileSystem(conf).open(p)
    try assert(in.readAllBytes() === bytes("shorter")) finally in.close()
    assert(names(d) === Set("5"))
  }

  test("a runtime writes its offset and commit logs without Hadoop checksum files") {
    val ckpt = dir().resolve("ckpt")
    val key = StreamingEntityRuntime.CheckpointFileManagerConf
    // unset: the runtime must install its manager itself
    val installed = withSessionConf(key, None) {
      val rt = new StreamingEntityRuntime(TestEntities.registry, spark, checkpointDir = Some(ckpt.toString))
      try {
        val c = new Client(TestEntities.registry, rt)
        val Right(u) = c.create("User", Map("username" -> "ckfm"))
        c.call(u, "update_balance", Map("x" -> 5))
        assert(c.getAttr(u, "balance") === 5)
      } finally rt.close()
      spark.conf.getOption(key)
    }
    Seq("offsets", "commits").foreach { log =>
      val ns = names(ckpt.resolve(log))
      assert(ns.count(_.forall(_.isDigit)) >= 3, s"$log: $ns")
      assert(!ns.exists(_.endsWith(".crc")), s"$log holds checksum files, the default manager's: $ns")
      assert(!ns.exists(_.startsWith(".")), s"$log holds temp files: $ns")
    }
    assert(installed.contains(classOf[LocalCheckpointFileManager].getName))
  }
}
