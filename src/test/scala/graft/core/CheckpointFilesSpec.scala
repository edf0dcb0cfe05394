package graft.core

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.TestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** `RawLocalFileSystem` under a scheme of its own, so that a path on it
  * is not `file:`. Hadoop instantiates both classes by name.
  */
class ElsewhereFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("elsewhere:///")
  override def getScheme: String = "elsewhere"
}
class ElsewhereAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ElsewhereFs, conf, "elsewhere", false)

/** The laws `CheckpointFiles` keeps from Spark's default manager on local
  * paths: no-overwrite rename, verified `.crc` sidecars, files readable
  * both ways (old checkpoints resume), the same permission bits; and
  * every other scheme gets Spark's own choice.
  */
class CheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private def conf = spark.sessionState.newHadoopConf()

  private def tempPath(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try out.write(text.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def local(p: Path) = Paths.get(p.toUri)

  test("the session pins CheckpointFiles, and file: paths get the fork-free manager") {
    assert(conf.get(CheckpointFiles.ConfKey) == classOf[CheckpointFiles].getName)
    val dir = tempPath("ckf-local")
    assert(CheckpointFileManager.create(dir, conf).isInstanceOf[CheckpointFiles])
    val fm = new CheckpointFiles(dir, conf)
    assert(fm.underlying.isInstanceOf[CheckpointFiles.Local])
    assert(fm.isLocal)
  }

  test("createAtomic without overwrite over an existing file fails and keeps the old bytes") {
    val dir = tempPath("ckf-atomic")
    val fm = new CheckpointFiles(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "old")
    intercept[FileAlreadyExistsException](write(fm, p, "new"))
    assert(read(fm, p) == "old")
    write(fm, p, "newer", overwrite = true)
    assert(read(fm, p) == "newer")
  }

  test("a byte flipped in a committed offset file fails its .crc check on read") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempPath("ckf-crc")
    val input = MemoryStream[Long]
    val q = input.toDS().writeStream.format("memory")
      .option("checkpointLocation", ckpt.toString)
      .queryName("checkpoint_files_crc_test").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()

    val offset0 = new Path(ckpt, "offsets/0")
    assert(Files.exists(local(new Path(ckpt, "offsets/.0.crc"))))
    val fm = new CheckpointFiles(ckpt, conf)
    assert(read(fm, offset0).startsWith("v"))
    val raf = new RandomAccessFile(local(offset0).toFile, "rw")
    try {
      raf.seek(1)
      val b = raf.read()
      raf.seek(1)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, offset0))
  }

  test("files round-trip between CheckpointFiles and Spark's FileContext manager") {
    val dir = tempPath("ckf-compat")
    val ours = new CheckpointFiles(dir, conf)
    val sparks = new FileContextBasedCheckpointFileManager(dir, conf)
    write(sparks, new Path(dir, "from-filecontext"), "a")
    write(ours, new Path(dir, "from-ours"), "b")
    assert(read(ours, new Path(dir, "from-filecontext")) == "a")
    assert(read(sparks, new Path(dir, "from-ours")) == "b")
    assert(ours.list(dir).map(_.getPath.getName).toSet ==
      sparks.list(dir).map(_.getPath.getName).toSet)
  }

  test("a stateful checkpoint written by Spark's FileContext manager resumes exactly") {
    val src = Files.createTempDirectory("ckf-resume-src")
    val ckpt = tempPath("ckf-resume-ckpt").toString
    def counts(session: org.apache.spark.sql.SparkSession, name: String): Map[String, Long] = {
      val q = session.readStream.text(src.toString).groupBy("value").count()
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckpt).queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      session.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val old = spark.newSession()
    old.conf.set(CheckpointFiles.ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
    Files.write(src.resolve("1.txt"), "a\nb\na\n".getBytes(UTF_8))
    assert(counts(old, "ckf_resume_before") == Map("a" -> 2L, "b" -> 1L))

    Files.write(src.resolve("2.txt"), "a\nc\n".getBytes(UTF_8))
    assert(counts(spark, "ckf_resume_after") == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("a scheme other than file: gets Spark's default manager") {
    val c = conf
    c.set("fs.elsewhere.impl", classOf[ElsewhereFs].getName)
    c.setBoolean("fs.elsewhere.impl.disable.cache", true)
    val p = new Path("elsewhere://" + Files.createTempDirectory("ckf-scheme").toString)
    // no AbstractFileSystem for the scheme: Spark falls back to FileSystem
    assert(new CheckpointFiles(p, c).underlying.getClass ==
      classOf[FileSystemBasedCheckpointFileManager])
    // with one, Spark picks FileContext and its atomic rename
    c.set("fs.AbstractFileSystem.elsewhere.impl", classOf[ElsewhereAfs].getName)
    assert(new CheckpointFiles(p, c).underlying.getClass ==
      classOf[FileContextBasedCheckpointFileManager])
  }

  test("created files, .crc sidecars and directories get the same permission bits as before") {
    def perms(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(local(p)))
    def layout(fm: CheckpointFileManager, dir: Path): Seq[String] = {
      val sub = new Path(dir, "state/0")
      fm.mkdirs(sub)
      write(fm, new Path(sub, "1.delta"), "x")
      Seq(new Path(dir, "state"), sub, new Path(sub, "1.delta"), new Path(sub, ".1.delta.crc"))
        .map(perms)
    }
    val before = tempPath("ckf-perm-fc")
    val after = tempPath("ckf-perm-ours")
    assert(layout(new CheckpointFiles(after, conf), after) ==
      layout(new FileContextBasedCheckpointFileManager(before, conf), before))
  }

  test("setPermission matches chmod, and keeps the sticky bit through Hadoop's path") {
    val fs = new CheckpointFiles.NioPermissionFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = tempPath("ckf-mode")
    def mode(p: Path) = Files.getAttribute(local(p), "unix:mode").asInstanceOf[Int] & 0x0fff
    val file = new Path(dir, "f")
    Files.write(local(file), Array[Byte](1))
    fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(file) == Integer.parseInt("640", 8))
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1755", 8))
    fs.setPermission(dir, new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(dir) == Integer.parseInt("700", 8))
  }
}
