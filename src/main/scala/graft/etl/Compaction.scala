package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction — the 100 TB hygiene operator every
  * long-running ingest needs: incremental range sinks (this repo's
  * ParquetRangeSink, streaming foreachBatch outputs, hourly
  * partitions) accumulate thousands of KB-sized parquet files, and
  * scan planning + footer reads eventually dominate query time.
  * Compaction rewrites a directory into ~`targetBytes` files by
  * sizing the repartition to the ACTUAL on-disk bytes (recursive
  * listing — hive-partitioned layouts included), not a guess.
  *
  * Shape: one wide repartition (round-robin, the only shuffle) and a
  * rewrite; at cluster scale the same call runs per partition
  * directory so compaction parallelizes across partitions. Sizing and
  * listing go through the Hadoop FileSystem API, so any filesystem
  * Spark can read (hdfs://, s3a://, local) sizes correctly — a local
  * java.io walk would silently report 0 bytes for a remote path and
  * collapse the rewrite to one partition. */
object Compaction {

  /** Total bytes and file count of the parquet data files under `dir`
    * (recursive via the Hadoop FileSystem of the path's scheme). Like
    * Spark's file index, it skips every file or directory whose name
    * starts with `.`, or with `_` and holds no `=`: a crashed write's
    * `_temporary/` or `_tmp-*` files are no data. */
  def listBytes(s: SparkSession, dir: String): (Long, Int) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    def visible(f: FileStatus) = {
      val n = f.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.filter(visible)
      .flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
    val data = files(path).filter(_.getPath.getName.endsWith(".parquet"))
    (data.map(_.getLen).sum, data.size)
  }

  /** Rewrite `inDir` into `outDir` with ceil(bytes/targetBytes)
    * output files. Returns (input file count, output file count). */
  def compact(s: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (bytes, nIn) = listBytes(s, inDir)
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(inDir).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    (nIn, listBytes(s, outDir)._2)
  }
}
