package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import graft.queries.{Evaluate, PriceStage, ShingleStage, TradeGraph}

/** The process-wide stage memo ([[Staged]]): one value per key under
  * concurrent first use, builds outside any lock, failed builds not
  * memoized, one entry per spelling of a dir, parquet stages under one
  * per-process root that is gone after the JVM exits — plus the loud
  * bounds of the two stages collected to driver memory. */
class StagedSpec extends SparkSpec {

  /** A key no other test uses; `once` never touches the filesystem. */
  private def freshKey(): String = s"/staged-spec/${System.nanoTime()}"

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  test("8 threads first-using one key see one value; none waits on another key's build") {
    val slowKey = freshKey()
    val release = new CountDownLatch(1)
    withPool(9) { implicit ec =>
      // a build that blocks until released, on its own key
      val slow = Future(Staged.once("slow", slowKey) {
        release.await(60, TimeUnit.SECONDS); "slow"
      })
      val dir = freshKey()
      val barrier = new CyclicBarrier(8)
      val builds = new AtomicInteger()
      val seen = (1 to 8).map(_ => Future {
        barrier.await(30, TimeUnit.SECONDS)
        Staged.once("shared", dir) { builds.incrementAndGet(); new Object }
      })
      // all eight finish while the slow build is still blocked
      val values = Await.result(Future.sequence(seen), 30.seconds)
      assert(!slow.isCompleted)
      assert(values.forall(_ eq values.head), "callers saw different values")
      assert(builds.get() >= 1 && builds.get() <= 8)
      assert(Staged.once[Object]("shared", dir)(fail("memo hit must not build")) eq values.head)
      release.countDown()
      assert(Await.result(slow, 30.seconds) == "slow")
    }
  }

  test("a build may read another stage") {
    val dir = freshKey()
    val outer = Staged.once("outer", dir)(Staged.once("inner", dir)("in") + "+out")
    assert(outer == "in+out")
    assert(Staged.once[String]("inner", dir)(fail("inner must be memoized")) == "in")
  }

  test("a failed build leaves nothing memoized; the next call rebuilds") {
    val dir = freshKey()
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Staged.once[String]("flaky", dir) {
        builds.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    assert(Staged.once("flaky", dir) { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get() == 2)
  }

  test("dir and dir/ are one entry: the second spelling starts no Spark job") {
    val first = PriceStage.census(spark, sfDir)
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { second = PriceStage.census(spark, sfDir + "/") } == 0)
    assert(second.inputFiles.toSet == first.inputFiles.toSet)
    assert(first.count() > 0 && first.count() == second.count())
  }

  test("every parquet stage lies under the per-process root") {
    for (df <- Seq(PriceStage.census(spark, sfDir),
                   ShingleStage.profiles(spark, sfDir),
                   ShingleStage.overlap3(spark, sfDir))) {
      assert(df.inputFiles.nonEmpty)
      df.inputFiles.foreach { f =>
        assert(Paths.get(new java.net.URI(f)).startsWith(Staged.root),
          s"$f is outside ${Staged.root}")
      }
    }
  }

  test("a child JVM that creates the root leaves no root behind after it exits") {
    val tmpdir = Paths.get(tempDir("graft-staged-child"))
    val cmd = ChildJvm.command(Seq("-Xmx256m", s"-Djava.io.tmpdir=$tmpdir"), "graft.StagedRootChild")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    assert(p.waitFor(120, TimeUnit.SECONDS), "child timed out")
    assert(p.exitValue() == 0, s"child failed:\n$out")
    val stage = Paths.get(out.linesIterator.toSeq.last)
    assert(stage.getParent.getParent == tmpdir, s"stage $stage not under $tmpdir")
    assert(!Files.exists(stage.getParent), s"root ${stage.getParent} survived the child")
    assert(tmpdir.toFile.list().isEmpty)
  }

  /** Runs `body` on a temp fixture dir holding `tables`. */
  private def withTables(tables: (String, org.apache.spark.sql.DataFrame)*)(
      body: String => Unit): Unit = {
    val dir = tempDir("graft-staged-bound")
    tables.foreach { case (name, df) => df.write.parquet(s"$dir/$name.parquet") }
    body(dir)
  }

  test("the trade graph stage fails loudly past |nations|² edges") {
    // 26 nations, one customer and one supplier each, every pair traded
    val ids = spark.range(26).select(col("id"), col("id").cast("int").as("nation"))
    withTables(
      "customer" -> ids.select(col("id").as("c_custkey"), col("nation").as("c_nationkey")),
      "supplier" -> ids.select(col("id").as("s_suppkey"), col("nation").as("s_nationkey")),
      "orders" -> ids.select(col("id").as("o_orderkey"), col("id").as("o_custkey")),
      "lineitem" -> ids.select(col("id").as("l_orderkey"))
        .crossJoin(ids.select(col("id").as("l_suppkey")))) { dir =>
      val e = intercept[IllegalArgumentException](TradeGraph.directed(spark, dir))
      assert(e.getMessage.contains("676 edges"), e.getMessage)
    }
  }

  test("the monthly series stage fails loudly past 4,096 (flag, month) groups") {
    // 3 flags x 1,366 months: 4,097 rows, each its own group
    withTables("lineitem" -> spark.range(4097).select(
      concat(lit("F"), (col("id") % 3).cast("string")).as("l_returnflag"),
      expr("CAST(add_months(DATE'1900-01-01', CAST(id DIV 3 AS INT)) AS TIMESTAMP)")
        .as("l_shipdate"),
      lit(1.0).as("l_extendedprice"), lit(1.0).as("l_quantity"))) { dir =>
      val e = intercept[IllegalArgumentException](Evaluate.kendallTau(spark, dir))
      assert(e.getMessage.contains("4097 rows"), e.getMessage)
    }
  }
}

/** Child JVM for [[StagedSpec]]: creates the stage root and one stage
  * directory with a file in it, prints the stage directory and exits
  * normally, so only the shutdown hook can remove the root. */
object StagedRootChild {
  def main(args: Array[String]): Unit = {
    val stage = Paths.get(Staged.freshDir("child"))
    Files.write(stage.resolve("part-0"), Array[Byte](1, 2, 3))
    println(stage)
  }
}
