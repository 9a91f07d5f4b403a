package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.etl.{DerbyStage, IncrementalRunner, ParquetRangeSink, PosixLocalFileSystem, StateStore}

/** The migration path's local writes set file modes without forking
  * `chmod`, and leave the same modes and rows as Hadoop's own local
  * file system; the range sink writes no checksum or marker file. */
class PosixLocalFsSpec extends SparkSpec {

  private def fs(): FileSystem = {
    val f = new PosixLocalFileSystem
    f.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    f
  }

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every entry under `root` (the root too) as (relative path, is a
    * directory, mode), sorted. */
  private def modes(root: Path): Seq[(String, Boolean, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map { p =>
      (root.relativize(p).toString, Files.isDirectory(p), mode(p))
    }.toList.sorted
    finally walk.close()
  }

  test("a sink range and a plain parquet write of it have the same modes and rows") {
    val df = spark.range(0, 3000).select(col("id"), (col("id") % 7).as("v")).repartition(3)
    val base = Paths.get(tempDir("graft-posix-sink"))
    val sink = new ParquetRangeSink(base.resolve("sink").toString)
    assert(sink.write(df, "t", -1, 2999) == 3000L)
    val plain = base.resolve("plain/t/range_-1_2999")
    df.write.parquet(plain.toString)
    val a = modes(base.resolve("sink"))
    val b = modes(base.resolve("plain"))
    // the sink writes data files only: no .crc checksum, no _SUCCESS marker
    val (dirs, files) = a.partition(_._2)
    assert(files.size == 3 && files.forall(_._1.endsWith(".parquet")), files)
    assert(b.exists(_._1.endsWith(".parquet.crc")) && b.exists(_._1.endsWith("_SUCCESS")))
    assert(dirs == b.filter(_._2))
    val plainData = b.filter(f => !f._2 && f._1.endsWith(".parquet"))
    assert(files.map(_._3).toSet == plainData.map(_._3).toSet)
    assert(sink.count(spark, "t", -1, 2999) == 3000L)
    val rows = spark.read.parquet(sink.path("t", -1, 2999)).orderBy("id").collect().toSeq
    assert(rows.size == 3000)
    assert(rows == spark.read.parquet(plain.toString).orderBy("id").collect().toSeq)
    assert(new ParquetRangeSink(base.resolve("plain").toString).count(spark, "t", -1, 2999) == 3000L)
  }

  test("setPermission round-trips file and directory modes") {
    val f = fs()
    val dir = Paths.get(tempDir("graft-posix-modes"))
    val file = Files.createFile(dir.resolve("f"))
    val sub = Files.createDirectory(dir.resolve("d"))
    for (octal <- Seq("600", "644", "700", "755", "777"); p <- Seq(file, sub)) {
      val want = new FsPermission(octal)
      f.setPermission(new HPath(p.toUri), want)
      assert(mode(p) == want.toString, s"$p at $octal")
      assert(f.getFileStatus(new HPath(p.toUri)).getPermission == want, s"$p at $octal")
    }
  }

  test("the sticky bit, which java.nio cannot set, goes to Hadoop's own chmod") {
    val dir = Files.createDirectory(Paths.get(tempDir("graft-posix-sticky")).resolve("d"))
    fs().setPermission(new HPath(dir.toUri), new FsPermission("1755"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == 0x3ed) // 01755
  }

  test("run and validate fork no chmod (child JVM, chmod shim first on PATH)") {
    val work = Paths.get(tempDir("graft-fork-watch"))
    val log = work.resolve("chmod.log")
    val real = sys.env("PATH").split(':').map(Paths.get(_, "chmod")).find(Files.isExecutable)
      .getOrElse(fail("no chmod on PATH"))
    val bin = Files.createDirectory(work.resolve("bin"))
    val shim = Files.write(bin.resolve("chmod"),
      s"#!/bin/sh\necho \"$$*\" >> '$log'\nexec '$real' \"$$@\"\n".getBytes("UTF-8"))
    Files.setPosixFilePermissions(shim, PosixFilePermissions.fromString("rwxr-xr-x"))
    val cmd = ChildJvm.command(Seq("-Xmx1g"), "graft.ForkWatchChild",
      work.resolve("child").toString, log.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("PATH", s"$bin:${sys.env("PATH")}")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180, TimeUnit.SECONDS), "child timed out")
    assert(p.exitValue() == 0, s"child failed:\n${out.takeRight(3000)}")
    val Result = """control=(\d+) ranges=(\d+) rows=(\d+) bad=(\d+)""".r.unanchored
    val Result(control, ranges, rows, bad) = out
    assume(control.toInt > 0, "Hadoop's local file system forked no chmod (native library loaded)")
    assert((ranges, rows, bad) == ("5", "2400", "0"))
    val calls = if (Files.exists(log)) Files.readAllLines(log).asScala.toSeq else Nil
    assert(calls.size == 0, s"chmod forks, first: ${calls.take(3).mkString("; ")}")
  }
}

/** Child JVM for [[PosixLocalFsSpec]]: stages 2,400 rows in Derby, forks
  * one `chmod` through Hadoop's local file system as a control, clears
  * the shim's log, then runs one migration (`run` in 500-key ranges, then
  * `validate`) and prints the control's call count and the outcome. */
object ForkWatchChild {
  def main(args: Array[String]): Unit = {
    val Array(work, log) = args
    val spark = SparkSession.builder().master("local[2]").appName("fork-watch")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val url = DerbyStage.stage(spark.range(1, 2401).select(col("id").as("k"),
        (col("id") % 13).as("v")), s"$work/derby", "src")
      val source = DerbyStage.readRanged(spark, url, "src", "k", 1, 2400, 2)
      val conf = spark.sparkContext.hadoopConfiguration
      FileSystem.getLocal(conf).mkdirs(new HPath(s"$work/control"), new FsPermission("750"))
      val logFile = Paths.get(log)
      val control = if (Files.exists(logFile)) Files.readAllLines(logFile).size else 0
      Files.deleteIfExists(logFile)
      val runner = new IncrementalRunner(spark, new StateStore(spark, s"$work/state"),
        new ParquetRangeSink(s"$work/sink"), batchSize = 500L)
      val done = runner.run(source, "src", "k")
      val bad = runner.validate(source, "src", "k")
      println(s"control=$control ranges=${done.size} rows=${done.map(_.rowCount).sum} bad=${bad.size}")
    } finally spark.stop()
  }
}
