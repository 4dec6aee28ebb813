package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CoolingStream, PaymentsGenerator}
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, ObjectStoreFileSystem}

/** `file://` writes start no process: the session's local filesystem sets
  * modes through java.nio instead of forking `chmod` per file and
  * `readlink` per checkpoint rename, and writes the same files with the
  * same modes as Hadoop's stock `LocalFileSystem`. Process starts are
  * counted in-process from JFR's `jdk.ProcessStart` events.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The `chmod` and `readlink` commands the JVM started while `body` ran. */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toSeq.map(_.getString("command"))
        .filter(c => Set("chmod", "readlink")(c.trim.split("\\s+")(0).split('/').last))
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("the session's file:// FileSystem and FileContext are the graft classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(new Path("file:///").getFileSystem(conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }

  test("a 16-partition partitionBy parquet write starts no chmod or readlink") {
    val out = s"${tmp("graft-localfs")}/t"
    val df = spark.range(50).select($"id", ($"id" % 16).as("cid"))
    val started = forks(df.write.partitionBy("cid").parquet(out))
    assert(started.isEmpty, started.take(5).mkString("\n"))
    assert(spark.read.parquet(out).count() == 50L)
    assert(new java.io.File(out).list().count(_.startsWith("cid=")) == 16)
  }

  test("a CoolingStream drain starts no chmod or readlink") {
    val root = tmp("graft-localfs-cool")
    PaymentsGenerator.writeHotStore(spark, s"$root/hot", "2020-01-01", months = 2)
    var cooled = Seq.empty[(Int, Long, Long)]
    val started = forks {
      cooled = CoolingStream.runAvailableNow(spark, s"$root/hot", s"$root/cold",
        s"$root/ckpt", LocalDate.parse("2020-01-01"), stopBeforeYear = 2021)
    }
    assert(started.isEmpty, started.take(5).mkString("\n"))
    assert(cooled == Seq((2020, 44640L + 41760L, 0L)))
  }

  test("an objstore:// write starts no chmod or readlink") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    val out = s"objstore://${tmp("graft-localfs-obj")}/t"
    val started = forks(spark.range(10).write.parquet(out))
    assert(started.isEmpty, started.take(5).mkString("\n"))
    assert(spark.read.parquet(out).count() == 10L)
  }

  test("files, bytes, .crc files and modes equal the stock LocalFileSystem's") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val graftFs = new GraftLocalFileSystem()
    graftFs.initialize(URI.create("file:///"), conf)
    def tree(fs: FileSystem, root: String): Map[String, (String, Seq[Byte])] = {
      fs.mkdirs(new Path(s"$root/a/b"))
      val o = fs.create(new Path(s"$root/a/b/part-0"))
      try o.write("graft".getBytes) finally o.close()
      val base = java.nio.file.Paths.get(root)
      val walk = Files.walk(base)
      try walk.iterator.asScala.filter(_ != base).map { p: JPath =>
        val mode = java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        val bytes = if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq
        base.relativize(p).toString -> (mode, bytes)
      }.toMap finally walk.close()
    }
    val want = tree(stock, tmp("graft-stock"))
    val got = tree(graftFs, tmp("graft-nio"))
    assert(want.keySet == Set("a", "a/b", "a/b/part-0", "a/b/.part-0.crc"))
    assert(got == want)
    assert(want("a")._1 == "rwxr-xr-x" && want("a/b/part-0")._1 == "rw-r--r--")
  }

  test("getFileLinkStatus reports a real symlink's target; other paths are their own status") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.getLocal(conf)
    val dir = tmp("graft-link")
    val target = Files.write(java.nio.file.Paths.get(dir, "target"), "x".getBytes)
    val link = Files.createSymbolicLink(java.nio.file.Paths.get(dir, "link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink && st.getSymlink == new Path(s"file:$target"))
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.getLen == 1L)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/absent")))
  }

  test("lint: every file://-backed FileSystem in src/main extends NioRawLocalFileSystem") {
    val hits = CacheLifecycleSpec.srcMainHits(_ == "LocalFileSystems.scala",
      """(extends|new)\s+RawLocalFileSystem\b""".r)
    assert(hits.isEmpty,
      "extend graft.sources.NioRawLocalFileSystem, which sets modes without forking chmod:\n" +
        hits.mkString("\n"))
  }
}
