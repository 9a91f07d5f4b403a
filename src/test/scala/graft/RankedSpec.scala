package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Ranked

/** Direct unit contract of the shared rank machinery
  * (operators/Ranked) — the five query consumers exercise it through
  * their oracles; this pins the primitive's own semantics where the
  * fixtures never wander: tie runs at a threshold, duplicate
  * thresholds, thresholds at the extremes, groups confined to one
  * partition, empty inputs, and the grouped-rank layout invariants. */
class RankedSpec extends SparkSpec {

  private lazy val sq = spark
  import sq.implicits._

  private def df(rows: Seq[(String, Long)]) =
    rows.toDF("g", "v")

  test("groupRanks: explicit global ranks, dense per group, total order") {
    val d = df(Seq(("a", 30L), ("a", 10L), ("a", 20L), ("b", 5L), ("b", 1L)))
    val r = Caches.own(Ranked.groupRanks(d, Seq("g"), Seq(col("v"))))
      .select(col("g"), col("v"), col("rnk"), col("grp_n"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(x => (x._1, x._3))
    assert(r === Array(("a", 10L, 1L, 3L), ("a", 20L, 2L, 3L), ("a", 30L, 3L, 3L),
      ("b", 1L, 1L, 2L), ("b", 5L, 2L, 2L)))
  }

  test("groupRanks: ties get distinct ranks; values at each rank are the sorted multiset") {
    val d = df(Seq(("a", 7L), ("a", 7L), ("a", 7L), ("a", 3L)))
    val r = Caches.own(Ranked.groupRanks(d, Seq("g"), Seq(col("v"))))
      .orderBy(col("rnk")).select(col("v")).collect().map(_.getLong(0))
    assert(r === Array(3L, 7L, 7L, 7L))
  }

  private def rankCuts(d: org.apache.spark.sql.DataFrame,
                       ts: Seq[(String, Long)]): Map[(String, String), Long] =
    Caches.own(Ranked.cutValuesByRank(d, Seq("g"), Seq(col("v")), col("v"),
      totals => totals.select(col("g"),
          explode(array(ts.map { case (n, t) =>
            struct(lit(n).as("tname"), lit(t).as("t")) }: _*)).as("x"))
        .select(col("g"), col("x.tname"), col("x.t")),
      maxGroups = 1, cutsPerGroup = ts.size))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("cut_value")).toMap

  test("cutValuesByRank: value at rank t, extremes included, tie runs covered") {
    // group a: sorted multiset [1, 4, 4, 4, 9]
    val d = df(Seq(("a", 4L), ("a", 9L), ("a", 1L), ("a", 4L), ("a", 4L)))
    val cuts = rankCuts(d, Seq(("t1", 1L), ("t2", 2L), ("t4", 4L), ("t5", 5L)))
    assert(cuts === Map(("a", "t1") -> 1L, ("a", "t2") -> 4L,
      ("a", "t4") -> 4L, ("a", "t5") -> 9L))
  }

  test("cutValuesByRank: duplicate thresholds yield one row per tname; out-of-range vanish") {
    val d = df(Seq(("a", 10L), ("a", 20L)))
    val cuts = rankCuts(d, Seq(("x", 2L), ("y", 2L), ("zero", 0L), ("over", 3L)))
    assert(cuts === Map(("a", "x") -> 20L, ("a", "y") -> 20L))
  }

  test("cutValuesByRank: per-group thresholds from tw; multi-group") {
    // medians: a = [1,2,3] -> 2 at ceil(3/2)=2, b = [10,20] -> 10 at ceil(2/2)=1
    val d = df(Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 20L), ("b", 10L)))
    val med = Caches.own(Ranked.cutValuesByRank(d, Seq("g"), Seq(col("v")), col("v"),
      totals => totals.select(col("g"), lit("med").as("tname"),
        ceil(col("tw") * 0.5).cast("bigint").as("t")),
      maxGroups = 2, cutsPerGroup = 1))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cut_value")).toMap
    assert(med === Map("a" -> 2L, "b" -> 10L))
    // tw rides along on the output
    val tw = Caches.own(Ranked.cutValuesByRank(d, Seq("g"), Seq(col("v")), col("v"),
      totals => totals.select(col("g"), lit("med").as("tname"),
        ceil(col("tw") * 0.5).cast("bigint").as("t")),
      maxGroups = 2, cutsPerGroup = 1))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("tw")).toMap
    assert(tw === Map("a" -> 3L, "b" -> 2L))
  }

  test("cutValues (weighted): crossing respects weights and tie cumulation") {
    // group a: (v=1, w=3), (v=5, w=2), (v=5, w=2), (v=9, w=1); tw=8
    // cum at 1 -> 3, at 5 -> 7 (ties together), at 9 -> 8
    val d = Seq(("a", 1L, 3L), ("a", 5L, 2L), ("a", 5L, 2L), ("a", 9L, 1L))
      .toDF("g", "v", "w")
    def at(t: Long): Long =
      Caches.own(Ranked.cutValues(d, Seq("g"), Seq(col("v")), col("w"), col("v"),
        totals => totals.select(col("g"), lit(s"t$t").as("tname"),
          lit(t).as("t")),
        maxGroups = 1, cutsPerGroup = 1))
        .collect().map(_.getAs[Long]("cut_value")).head
    assert(at(1L) === 1L)
    assert(at(3L) === 1L)  // cum(1)=3 >= 3
    assert(at(4L) === 5L)  // first value whose cum (7) reaches 4
    assert(at(7L) === 5L)
    assert(at(8L) === 9L)
  }

  test("cut forms: empty input produces empty output, no throw") {
    val d = df(Seq.empty)
    assert(rankCuts(d, Seq(("x", 1L))).isEmpty)
    val w = Caches.own(Ranked.cutValues(
      Seq.empty[(String, Long, Long)].toDF("g", "v", "w"),
      Seq("g"), Seq(col("v")), col("w"), col("v"),
      totals => totals.select(col("g"), lit("x").as("tname"), lit(1L).as("t")),
      maxGroups = 1, cutsPerGroup = 1))
    assert(w.collect().isEmpty)
  }

  test("cut forms agree with each other and with a window oracle on random data") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(5000)((if (rnd.nextBoolean()) "a" else "b",
      rnd.nextInt(300).toLong))
    val d = df(rows)
    // window oracle: value at rank ceil(0.37 * n) per group
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      g -> sorted((math.ceil(sorted.size * 0.37) - 1).toInt)
    }
    val th = (totals: org.apache.spark.sql.DataFrame) =>
      totals.select(col("g"), lit("q37").as("tname"),
        ceil(col("tw") * 0.37).cast("bigint").as("t"))
    val byRank = Caches.own(Ranked.cutValuesByRank(
        d, Seq("g"), Seq(col("v")), col("v"), th, maxGroups = 2, cutsPerGroup = 1))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cut_value")).toMap
    val weighted = Caches.own(Ranked.cutValues(
        d.withColumn("w", lit(1L)), Seq("g"), Seq(col("v")), col("w"),
        col("v"), th, maxGroups = 2, cutsPerGroup = 1))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cut_value")).toMap
    assert(byRank === expected)
    assert(weighted === expected)
  }
}
