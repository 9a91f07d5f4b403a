package graft

/** Pins the inference pack's statistics to externally-known values on
  * crafted fixtures — the guard the oracle gate structurally cannot
  * provide when the DuckDB SQL mirrors the same formula (the round-13
  * Kruskal-Wallis /4 bug passed the hash gate for exactly that
  * reason). Expected numbers below are hand-computed from the textbook
  * definitions and match scipy.stats.kruskal. */
class InferSpec extends SparkSpec {
  import spark.implicits._

  private def kwFixture(rows: Seq[(String, Long)]): String = {
    val dir = tempDir("kwfix")
    rows.toDF("l_returnflag", "l_quantity")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("kruskal-wallis: tie-free textbook case H = 7.2 (scipy.stats.kruskal)") {
    // groups [1,2,3] [4,5,6] [7,8,9]: ranks 1..9, R = 6/15/24, N = 9
    // H = 12/(9*10) * (36/3 + 225/3 + 576/3) - 3*10 = 7.2 exactly
    val dir = kwFixture(Seq(
      "A" -> 1L, "A" -> 2L, "A" -> 3L,
      "B" -> 4L, "B" -> 5L, "B" -> 6L,
      "C" -> 7L, "C" -> 8L, "C" -> 9L))
    val out = queries.Infer.kruskalWallis(spark, dir).collect()
    assert(out.length == 3)
    val byGrp = out.map(r => r.getString(0) -> r).toMap
    assert(byGrp("A").getDouble(2) == 2.0) // mean ranks 2/5/8
    assert(byGrp("B").getDouble(2) == 5.0)
    assert(byGrp("C").getDouble(2) == 8.0)
    out.foreach { r =>
      assert(math.abs(r.getDouble(4) - 7.2) < 1e-9,
        s"h=${r.getDouble(4)} want 7.2")
      // no ties => correction factor 1, corrected H identical
      assert(math.abs(r.getDouble(5) - 7.2) < 1e-9)
    }
  }

  test("kruskal-wallis: tied case H = 3.0476, tie-corrected 3.3333 (scipy)") {
    // groups [1,1,2] [2,3,3]: midranks 1.5,1.5,3.5 / 3.5,5.5,5.5
    // R = 6.5/14.5, N = 6 -> H = 12/42 * (42.25/3 + 210.25/3) - 21
    //   = 3.047619; ties t=2 x3 -> C = 1 - 18/210; H' = 3.3333333
    val dir = kwFixture(Seq(
      "A" -> 1L, "A" -> 1L, "A" -> 2L,
      "B" -> 2L, "B" -> 3L, "B" -> 3L))
    val out = queries.Infer.kruskalWallis(spark, dir).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(4) == 3.0476, s"h=${r.getDouble(4)} want 3.0476")
      assert(r.getDouble(5) == 3.3333,
        s"h_tie_corrected=${r.getDouble(5)} want 3.3333")
    }
  }
}
