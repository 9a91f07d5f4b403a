package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import graft.etl.{DriverShim, DuckDbStage}

/** The queries that write files and read them back do it in their own
  * [[Staged.scratch]] dir: at sf0.01 each counts its DuckDB oracle's
  * rows, a second call writes into the same dir, and every dir lies
  * under [[Staged.root]], so `/tmp` gains nothing. (That the root is
  * gone after the JVM exits is [[StagedSpec]]'s child-JVM test.) The
  * three stages DuckDB reads after the JVM has exited go through
  * [[Staged.publish]]: a link at the published path, one work dir per
  * live process, and no work dir of an exited one. */
class ScratchDirSpec extends SparkSpec {

  private val sf = Paths.get(sfDir).resolveSibling("sf0.01").toString
  private val names = Seq("q_bucketed_join", "q_bucket_prune", "q_compaction",
    "q_text_lines_roundtrip", "q_orc_roundtrip", "q_jdbc_ranged", "q_jdbc_duckdb",
    "q_partition_prune", "q_dpp_join", "q_partition_reload", "q_merge_schema_read")

  private def graftEntriesInTmp(): Set[String] =
    Option(new java.io.File("/tmp").list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("graft_"))

  private def rootChildren(): Set[String] =
    Option(Staged.root.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  /** Row count of each query's oracle SQL, run by DuckDB on `sf`'s tables. */
  private def oracleCounts(names: Seq[String]): Map[String, Long] = {
    val con = new DriverShim().connect("jdbc:duckdb:", new java.util.Properties())
    try {
      val st = con.createStatement()
      Tables.names.foreach { t =>
        st.execute(s"CREATE VIEW $t AS SELECT * FROM read_parquet('$sf/$t.parquet')")
      }
      names.map { n =>
        val rs = st.executeQuery(s"SELECT count(*) FROM (${SparkEntry.oracleSql(n)}) q")
        rs.next()
        n -> rs.getLong(1)
      }.toMap
    } finally con.close()
  }

  test("the scratch-dir queries match their oracle counts, reuse one dir each, and stay under the stage root") {
    assume(DuckDbStage.ensureLoaded(), "duckdb_jdbc jar not present in local caches")
    Staged.root // created before /tmp is listed
    val tmpBefore = graftEntriesInTmp()
    val want = oracleCounts(names)
    for (n <- names)
      assert(SparkEntry.queries(n)(spark, sf).count() == want(n), n)

    val dirs = names.map(n => n -> Paths.get(Staged.scratch(n, sf))).toMap
    for ((n, d) <- dirs) {
      assert(d.getParent == Staged.root, s"$n: $d is not under ${Staged.root}")
      assert(d.getFileName.toString.startsWith(s"${n}_"), s"$n: $d")
      assert(d.toFile.list().nonEmpty, s"$n wrote nothing to $d")
    }
    val afterFirst = rootChildren()

    // a second call writes into the same dirs and makes no new one
    for (n <- names)
      assert(SparkEntry.queries(n)(spark, sf).count() == want(n), n)
    assert(rootChildren() == afterFirst)
    assert(names.forall(n => Paths.get(Staged.scratch(n, sf)) == dirs(n)))

    val leaked = graftEntriesInTmp() -- tmpBefore
    assert(leaked.isEmpty, s"new /tmp entries: ${leaked.mkString(", ")}")
  }

  private val published = Seq("q_ndjson_scan" -> "ndjson", "q_csv_hostile" -> "csvhostile",
    "q_range_sink" -> "rangesink")

  private def pid: Long = ProcessHandle.current().pid()

  /** The `_work_<pid>` siblings of the published path `link`. */
  private def workDirs(link: Path): Set[String] = {
    val prefix = s"${link.getFileName}_work_"
    Option(link.getParent.toFile.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  private def inode(p: Path): AnyRef =
    Files.readAttributes(p, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS).fileKey()

  test("the published stages match their oracle counts, and a second call swaps the link over one work dir") {
    assume(DuckDbStage.ensureLoaded(), "duckdb_jdbc jar not present in local caches")
    assume(published.forall { case (_, st) => Staged.publishedDir(st).endsWith("_sf0.01") },
      "SPARK_GRAFT_ORACLE_SF names another scale")
    val names = published.map(_._1)
    val links = published.map { case (n, st) => n -> Paths.get(Staged.publishedDir(st)) }.toMap
    for (round <- 1 to 2) {
      val before = links.map { case (n, l) => n -> Option(l).filter(Files.isSymbolicLink).map(inode) }
      val got = names.map(n => n -> SparkEntry.queries(n)(spark, sf).count()).toMap
      // the oracle SQL reads the files through the link, after the write
      assert(oracleCounts(names) == got, s"round $round")
      for ((n, link) <- links) {
        val work = Paths.get(s"${link}_work_$pid")
        assert(Files.isSymbolicLink(link), s"$n: $link is not a link")
        assert(link.getParent.resolve(Files.readSymbolicLink(link)) == work, n)
        assert(work.toFile.list().nonEmpty, s"$n wrote nothing to $work")
        assert(!before(n).contains(inode(link)), s"$n: round $round left the old link")
        // this process's one work dir, and none of an exited process
        val owners = workDirs(link)
        assert(owners.contains(pid.toString) &&
          owners.forall(o => o.forall(_.isDigit) && ProcessHandle.of(o.toLong).isPresent),
          s"$n: work dirs of $owners")
      }
    }
  }

  test("publish deletes an exited process's work dir and replaces a real directory at the published path") {
    val gone = new ProcessBuilder("true").start()
    gone.waitFor()
    assert(!ProcessHandle.of(gone.pid()).isPresent)
    val fixture = s"graft-publish-spec-$pid"
    val link = Paths.get(s"/tmp/graft_spec_stage_$fixture")
    val dead = Paths.get(s"${link}_work_${gone.pid()}")
    try {
      Files.write(Files.createDirectories(dead).resolve("part-0"), "old".getBytes)
      Files.write(Files.createDirectories(link).resolve("part-0"), "real".getBytes)
      val work = Staged.publish("spec", s"/data/$fixture/") { path =>
        Files.write(Files.createDirectories(Paths.get(path)).resolve("part-0"), "new".getBytes)
      }
      assert(work == s"${link}_work_$pid")
      assert(Files.isSymbolicLink(link))
      assert(new String(Files.readAllBytes(link.resolve("part-0"))) == "new")
      assert(!Files.exists(dead), s"$dead outlived its process")
      assert(workDirs(link) == Set(pid.toString))
    } finally {
      Files.deleteIfExists(link)
      for (d <- Seq(dead, Paths.get(s"${link}_work_$pid")))
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
    }
  }
}
