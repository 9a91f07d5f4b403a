package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{MigrateApp, MigrateConfig}

/** The YAML config front door (ref A13): the supported subset parses
  * exactly, env templating interpolates or fails loudly, and
  * MigrateApp resolves identical arguments from either style. */
class MigrateConfigSpec extends AnyFunSuite with TempDirs {

  private val sample =
    """# migbqspark config (reference-style in/out sections)
      |in:
      |  path: ${DATA_DIR}/orders.parquet
      |  pk_column: o_orderkey   # numeric PK
      |out:
      |  work_dir: '/tmp/migrate work'
      |  batch_size: 5000
      |log_level: "warn # not a comment"
      |""".stripMargin

  test("parses sections, comments, quotes, and env interpolation") {
    val c = MigrateConfig.parse(sample, Map("DATA_DIR" -> "/data/sf1"))
    assert(c("in.path") == "/data/sf1/orders.parquet")
    assert(c("in.pk_column") == "o_orderkey")
    assert(c("out.work_dir") == "/tmp/migrate work") // quoted value, space kept
    assert(c("out.batch_size") == "5000")
    assert(c("log_level") == "warn # not a comment") // '#' inside quotes
    assert(c.size == 5)
  }

  test("an unset ${VAR} fails loudly, never resolves to empty") {
    val e = intercept[RuntimeException](MigrateConfig.parse(sample, Map.empty))
    assert(e.getMessage.contains("DATA_DIR"))
  }

  test("unsupported syntax fails loudly rather than half-parsing") {
    intercept[IllegalArgumentException](MigrateConfig.parse("just a line"))
    intercept[IllegalArgumentException](
      MigrateConfig.parse("a:\n  b:\n    c: too deep"))
    intercept[IllegalArgumentException](MigrateConfig.parse("  orphan: 1"))
    // an unterminated quote must raise, not half-parse (comment
    // stripping disabled for the rest of the line + a dangling quote
    // char left in the value)
    val q = intercept[IllegalArgumentException](
      MigrateConfig.parse("key: 'abc"))
    assert(q.getMessage.contains("unterminated"))
    intercept[IllegalArgumentException](
      MigrateConfig.parse("key: \"abc # not a comment"))
  }

  test("MigrateApp resolves the same args from CLI and config styles") {
    val dir = java.nio.file.Paths.get(tempDir("graft_cfg"))
    val f = dir.resolve("job.yml")
    java.nio.file.Files.writeString(f,
      """in:
        |  path: /data/orders.parquet
        |  pk_column: o_orderkey
        |out:
        |  work_dir: /tmp/w
        |  batch_size: 250
        |""".stripMargin)
    val fromCfg = MigrateApp.resolveArgs(
      Array("run", "--config", f.toString))
    val fromCli = MigrateApp.resolveArgs(
      Array("run", "/data/orders.parquet", "o_orderkey", "/tmp/w", "250"))
    assert(fromCfg == fromCli)
    assert(fromCfg == ("/data/orders.parquet", "o_orderkey", "/tmp/w", 250L))
    // batch_size defaults when omitted
    java.nio.file.Files.writeString(f,
      "in:\n  path: /p\n  pk_column: k\nout:\n  work_dir: /w\n")
    assert(MigrateApp.resolveArgs(Array("run", "--config", f.toString))._4 == 5000L)
    // a missing required key names itself
    java.nio.file.Files.writeString(f, "in:\n  path: /p\n")
    val e = intercept[RuntimeException](
      MigrateApp.resolveArgs(Array("run", "--config", f.toString)))
    assert(e.getMessage.contains("in.pk_column"))
  }
}
