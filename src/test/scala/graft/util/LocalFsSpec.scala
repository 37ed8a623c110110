package graft.util

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, window}

import graft.SparkTestBase

/** The fork-free local filesystem gives the answers Hadoop's stock one
  * gives: the same permission bits on everything Spark writes, and the
  * same link status.
  */
class LocalFsSpec extends SparkTestBase {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def raw[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(new URI("file:///"), hadoopConf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("files and directories Spark writes get the stock modes") {
    val umask = FsPermission.getUMask(hadoopConf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val table = tmpDir("fs_modes_write") + "/t"
    graft.sources.Tables.events(spark, Sf0001).write.partitionBy("event_type").parquet(table)
    val work = tmpDir("fs_modes_stream")
    val out = graft.streaming.EventStreams.replayEventsDirToParquet(
      spark, Sf0001, work,
      _.withWatermark("ts", "0 seconds").groupBy(window(col("ts"), "6 hours")).count(),
      interruptAfterBatches = Some(2))
    val written = Seq(table, out, s"$work/ckpt").flatMap(d =>
      scala.util.Using.resource(Files.walk(Paths.get(d)))(_.iterator.asScala.toList))
    assert(written.exists(_.getFileName.toString.endsWith(".crc")))
    assert(written.exists(_.toString.contains("/ckpt/commits/")))
    assert(written.exists(_.toString.contains("/ckpt/state/")))
    written.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(mode(p) == want, f"$p: ${mode(p)}%o, expected $want%o")
    }
  }

  test("setPermission round-trips rwx bits in-process and a sticky mode through chmod") {
    val fs = raw(new ForkFreeRawLocalFileSystem)
    val dir = java.nio.file.Path.of(tmpDir("fs_perm"))
    val file = Files.createFile(dir.resolve("f"))
    fs.setPermission(new Path(file.toUri), new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(file) == Integer.parseInt("700", 8))
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("755", 8).toShort))
    assert(mode(dir) == Integer.parseInt("755", 8))
  }

  test("getFileLinkStatus answers as the stock method, links included") {
    val mine = raw(new ForkFreeRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val dir = java.nio.file.Path.of(tmpDir("fs_link"))
    val target = Files.writeString(dir.resolve("target"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def view(s: FileStatus) = (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
      s.getModificationTime, if (s.isSymlink) Some(s.getSymlink) else None)
    val paths = for {
      p <- Seq(dir, target, link, dangling)
      spelling <- Seq(new Path(p.toUri), new Path(p.toString))
    } yield spelling
    // a missing or dangling target throws the same exception from both
    def outcome(fs: RawLocalFileSystem, p: Path) =
      scala.util.Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    paths.foreach(p => assert(outcome(mine, p) == outcome(stock, p), p))
    val fileUri = new Path(link.toUri)
    assert(view(mine.getFileLinkStatus(fileUri)) == view(mine.getFileStatus(fileUri)))
    assert(mine.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(mine.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    Seq(new Path(dir.resolve("missing").toUri), new Path(dir.resolve("missing").toString))
      .foreach(p => assertThrows[java.io.FileNotFoundException](mine.getFileLinkStatus(p)))
  }

  test("Sessions.tune selects the fork-free classes on a session's Hadoop conf") {
    val key = "fs.AbstractFileSystem.file.impl"
    try {
      hadoopConf.set(key, "org.apache.hadoop.fs.local.LocalFs")
      Sessions.tune(spark)
      assert(hadoopConf.get(key) == classOf[ForkFreeLocalFs].getName)
      assert(AbstractFileSystem.get(new URI("file:///"), hadoopConf).isInstanceOf[ForkFreeLocalFs])
    } finally hadoopConf.set(key, classOf[ForkFreeLocalFs].getName)
  }
}
