package graft

import java.nio.file.Paths
import graft.etl.{DriverShim, DuckDbStage}

/** The queries that write files and read them back do it in their own
  * [[Staged.scratch]] dir: at sf0.01 each counts its DuckDB oracle's
  * rows, a second call writes into the same dir, and every dir lies
  * under [[Staged.root]], so `/tmp` gains nothing. (That the root is
  * gone after the JVM exits is [[StagedSpec]]'s child-JVM test.) */
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
  private def oracleCounts(): Map[String, Long] = {
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
    val want = oracleCounts()
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
}
