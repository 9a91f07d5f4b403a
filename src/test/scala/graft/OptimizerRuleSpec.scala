package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, LevenshteinPrefilter}

/** The custom optimizer rule must (a) actually fire — the optimized
  * plan carries the length-gap guard and the banded threshold
  * levenshtein — and (b) be semantics-preserving: identical rows with
  * the rule removed. */
class OptimizerRuleSpec extends SparkSpec {

  private def q = queries.Pipeline.dedupLevenshtein(spark, sfDir)

  test("levenshtein threshold filters get the gap guard and banded DP form") {
    GraftFunctions.register(spark)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Some(20)") && optimized.contains("abs("),
      optimized.take(2000))
    assert(optimized.contains("length("), optimized.take(2000))
  }

  test("rewrite is semantics-preserving: same rows with the rule removed") {
    // read parquet directly: the fixture loaders call register() and
    // would re-add the rule mid-test; an in-memory frame won't do
    // either (constant folding collapses it to a LocalRelation before
    // the plan can be inspected).
    GraftFunctions.register(spark)
    def load(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").as("id"), col("lang").as("a"), col("source").as("b"))
    def run(d: org.apache.spark.sql.DataFrame) =
      d.filter(expr("levenshtein(a, b) <= 3")).select(col("id"))
        .collect().map(_.getLong(0)).toSet
    val df = load(spark)
    val withRule = run(df)
    assert(df.filter(expr("levenshtein(a, b) <= 3"))
      .queryExecution.optimizedPlan.toString.contains("abs("))
    // The rule-free run happens in an ISOLATED session (fresh session
    // state, so the graft rule is simply never registered there) —
    // mutating the shared session's extraOptimizations would leak into
    // any query another suite plans concurrently.
    val bare = spark.newSession()
    assert(!bare.experimental.extraOptimizations.contains(LevenshteinPrefilter))
    val bareQ = load(bare).filter(expr("levenshtein(a, b) <= 3"))
    assert(!bareQ.queryExecution.optimizedPlan.toString.contains("abs("),
      bareQ.queryExecution.optimizedPlan.toString.take(1000))
    assert(run(load(bare)) == withRule)
  }

  test("rule preserves NULL and boundary semantics on a hand-built frame") {
    // Written to parquet and read back: an in-memory frame collapses
    // to a LocalRelation before the user rule batch runs, so the rule
    // would never fire and the test would only exercise the builtin.
    import spark.implicits._
    GraftFunctions.register(spark)
    val dir = tempDir("graft-lev")
    Seq(
      (1L, "kitten", "sitting"),        // dist 3 (== k boundary)
      (2L, "abc", "abcdefgh"),          // gap 5 > 3 — guard kills it
      (3L, "same", "same"),             // dist 0
      (4L, null.asInstanceOf[String], "x")) // NULL propagates to drop
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val filtered = df.filter(expr("levenshtein(a, b) <= 3"))
    assert(filtered.queryExecution.optimizedPlan.toString.contains("abs("),
      "rule must fire for this frame or the test is vacuous")
    val out = filtered.select($"id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }
}
