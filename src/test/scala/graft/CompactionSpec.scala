package graft

import org.apache.spark.sql.functions._
import graft.etl.Compaction

/** Small-file compaction: file counts actually shrink, content is
  * bit-preserved, and re-compacting an already-compacted directory is
  * a no-op in file-count terms. */
class CompactionSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-compact")

  test("compaction collapses a fragmented directory and preserves content") {
    val out = tmp()
    val src = Tables.orders(spark, sfDir)
    src.repartition(64).write.parquet(s"$out/fragmented")
    val (before, _) = Compaction.listBytes(spark, s"$out/fragmented")
    val (nIn, nOut) = Compaction.compact(spark, s"$out/fragmented",
      s"$out/compacted", targetBytes = 64L * 1024 * 1024)
    assert(nIn == 64, s"staging should fragment to 64 files, got $nIn")
    assert(nOut <= 2, s"compaction left $nOut files for ${before}B at 64MB target")
    val a = src.orderBy(col("o_orderkey")).collect().map(_.toSeq)
    val b = spark.read.parquet(s"$out/compacted")
      .orderBy(col("o_orderkey")).collect().map(_.toSeq)
    assert(a.sameElements(b), "compacted content must equal the source")
  }

  test("re-compacting a compacted directory does not grow the file count") {
    val out = tmp()
    Tables.orders(spark, sfDir).repartition(16).write.parquet(s"$out/in")
    val (_, n1) = Compaction.compact(spark, s"$out/in", s"$out/c1",
      targetBytes = 64L * 1024 * 1024)
    val (_, n2) = Compaction.compact(spark, s"$out/c1", s"$out/c2",
      targetBytes = 64L * 1024 * 1024)
    assert(n2 <= n1)
  }

  test("sizing skips the files of hidden and underscore directories, as Spark's reader does") {
    val out = tmp()
    Tables.orders(spark, sfDir).repartition(4).write.parquet(s"$out/in")
    val before = Compaction.listBytes(spark, s"$out/in")
    val dir = java.nio.file.Paths.get(out, "in")
    val part = dir.toFile.listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    for (stray <- Seq("_temporary/0/part-x.parquet", ".hidden/part-y.parquet")) {
      java.nio.file.Files.createDirectories(dir.resolve(stray).getParent)
      java.nio.file.Files.copy(part, dir.resolve(stray))
    }
    assert(spark.read.parquet(s"$out/in").count() == Tables.orders(spark, sfDir).count())
    assert(before._2 == 4 && Compaction.listBytes(spark, s"$out/in") == before)
  }
}
