package graft

import org.apache.spark.sql.functions._

/** [[Bounded.collect]]: every row at the bound, a loud failure one row
  * past it, and no Spark job beyond what a plain `collect()` runs. */
class BoundedSpec extends SparkSpec {

  test("at the bound every row comes back") {
    val rows = Bounded.collect(spark.range(100).toDF("id"), 100, "ids in a range")
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }

  test("one row past the bound fails, naming the row count and the relation") {
    val e = intercept[IllegalArgumentException](
      Bounded.collect(spark.range(101).toDF("id"), 100, "ids in a range"))
    assert(e.getMessage.contains("101 ids in a range, past the bound of 100"),
      e.getMessage)
  }

  test("a multi-partition aggregate runs exactly the jobs of a plain collect") {
    // built fresh for each run, so no shuffle is reused; 200,000 groups
    // stay in several post-shuffle partitions under AQE, which a
    // limit-based collect would scan in more than one job
    def agg = spark.range(400000).groupBy((col("id") % 200000).as("g")).count()
    val plain = jobsDuring(assert(agg.collect().length == 200000))
    val bounded = jobsDuring(
      assert(Bounded.collect(agg, 200000, "groups").length == 200000))
    assert(plain >= 2, s"$plain jobs: the aggregate should shuffle")
    assert(bounded == plain)
  }
}
